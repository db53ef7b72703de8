package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The reference's three analytics views (its entire declarative query
  * surface), re-expressed as Spark DataFrame pipelines over the testdata
  * domain mapping (FIXTURES.md): clients→customer, accounts→orders,
  * transactions→lineitem.
  *
  * Reference semantics (cited into /root/reference):
  *  - `client_transaction_counts` — main.py:183-191
  *  - `monthly_transaction_summary` — main.py:197-207
  *  - `high_transaction_accounts` — main.py:213-221
  *
  * Scale notes (100 TB design stance):
  *  - The join chain `customer ⋈ orders ⋈ lineitem` is declared with plain
  *    equi-joins so Catalyst picks BroadcastHashJoin when a side is under
  *    the broadcast threshold and SortMergeJoin otherwise; AQE converts to
  *    broadcast at runtime when post-filter stats allow. No hints are
  *    hard-coded — at 100 TB neither side of customer⋈orders may be
  *    broadcastable and forcing it would OOM executors.
  *  - Aggregations are hash aggregates with map-side partial aggregation
  *    (free for `count`/`sum`), so the shuffle carries one row per group
  *    per mapper, not one row per input row.
  *  - Amount sums go through DecimalType — exact, associative, and
  *    order-independent, so results are stable under any partitioning /
  *    AQE re-plan (a double sum would drift per partition order).
  *  - The final ORDER BY is a global range-partitioned sort; it exists
  *    because the reference views pin that order and the correctness
  *    oracle hashes row order. For a pure-throughput path the sort is
  *    droppable (the reference's Postgres planner discards it too for
  *    outer queries — SURVEY.md §4).
  */
object RefViews {

  /** `client_transaction_counts` (main.py:183-191): per-client count of
    * transactions, inner-join semantics — clients with no accounts or no
    * transactions are excluded (no zero rows).
    * COUNT(tr.transaction_id) post-inner-join ≡ COUNT(*) (the key is
    * non-null); we use count(*) which Spark plans identically.
    */
  def clientTransactionCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"))
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"), col("o_orderkey"))
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(c("c_custkey").as("client_id"))
      .agg(count(lit(1)).as("transaction_count"))
      .orderBy(col("client_id"))
  }

  val clientTransactionCountsSql: String =
    """SELECT c.c_custkey AS client_id, CAST(COUNT(*) AS BIGINT) AS transaction_count
      |FROM customer c
      |JOIN orders a ON c.c_custkey = a.o_custkey
      |JOIN lineitem t ON a.o_orderkey = t.l_orderkey
      |GROUP BY c.c_custkey
      |ORDER BY client_id""".stripMargin

  /** `monthly_transaction_summary` (main.py:197-207): per (month,
    * client_email) count + total amount; month rendered `'YYYY-MM-01'`
    * (TO_CHAR, main.py:199). We render via date_format on the
    * month-truncated timestamp and concat the literal `-01` so the
    * pattern translation (Postgres TO_CHAR → Spark/DuckDB) cannot drift.
    * Amount is summed as DECIMAL(18,2) — exact at any partition count.
    */
  def monthlyTransactionSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name"))
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"), col("o_orderkey"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .select(
        concat(date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM"), lit("-01"))
          .as("month"),
        c("c_name").as("client_email"),
        col("l_extendedprice").cast("decimal(18,2)").as("amount"))
      .groupBy(col("month"), col("client_email"))
      .agg(
        count(lit(1)).as("transaction_count"),
        // NUMERIC fidelity: the reference's Postgres view returns numeric
        // (SUM over NUMERIC(10,2), main.py:202). The sum itself runs in
        // Spark's widened exact decimal — associative and partition-order
        // independent. The SparkEntry key emits the final column as DOUBLE
        // on both the Spark and oracle sides: the round-trip comparison
        // layer cannot canonicalize DECIMAL columns across engines, and a
        // one-time terminal cast of an already-exact sum loses nothing
        // measurable (the sf0.1 max |total_amount| ≈ 1e7 is exactly
        // representable).
        sum(col("amount")).cast("decimal(20,2)").cast("double").as("total_amount"))
      .orderBy(col("month"), col("client_email"))
  }

  val monthlyTransactionSummarySql: String =
    """SELECT
      |  strftime(date_trunc('month', t.l_shipdate), '%Y-%m') || '-01' AS month,
      |  c.c_name AS client_email,
      |  CAST(COUNT(*) AS BIGINT) AS transaction_count,
      |  CAST(CAST(SUM(CAST(t.l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(20,2)) AS DOUBLE) AS total_amount
      |FROM customer c
      |JOIN orders a ON c.c_custkey = a.o_custkey
      |JOIN lineitem t ON a.o_orderkey = t.l_orderkey
      |GROUP BY 1, 2
      |ORDER BY month, client_email""".stripMargin

  /** `high_transaction_accounts` (main.py:213-221): single-table agg +
    * HAVING count > 2. The reference aliases the month-truncated value as
    * `date` and formats it `'YYYY-MM-DD'` — so the column *named* date
    * always holds a month START (...-01). That odd-but-pinned semantic is
    * reproduced exactly (SURVEY.md Q6).
    */
  def highTransactionAccounts(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .select(
        date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM-dd").as("date"),
        col("l_orderkey").as("account_id"))
      .groupBy(col("date"), col("account_id"))
      .agg(count(lit(1)).as("transaction_count"))
      .filter(col("transaction_count") > 2)
      .orderBy(col("date"), col("account_id"))
  }

  val highTransactionAccountsSql: String =
    """SELECT
      |  strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS date,
      |  l_orderkey AS account_id,
      |  CAST(COUNT(*) AS BIGINT) AS transaction_count
      |FROM lineitem
      |GROUP BY 1, 2
      |HAVING COUNT(*) > 2
      |ORDER BY date, account_id""".stripMargin

  /** Row-count summary (main.py:58-59): the `ZYLYTY Data Import Completed
    * [clients, accounts, transactions]` completion line as a 1-row frame.
    */
  def importCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).agg(count(lit(1)).as("clients"))
    val a = Tables.orders(spark, sfDir).agg(count(lit(1)).as("accounts"))
    val t = Tables.lineitem(spark, sfDir).agg(count(lit(1)).as("transactions"))
    c.crossJoin(a).crossJoin(t)
  }

  val importCountsSql: String =
    """SELECT
      |  CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS clients,
      |  CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS accounts,
      |  CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS transactions""".stripMargin

  /** The K3 DDL surface under the ORACLE GATE (it was spec-only until
    * round 12): the flagship view built the way the reference actually
    * builds it — base tables registered as temp views, the view created
    * with `CREATE OR REPLACE TEMPORARY VIEW … AS SELECT` DDL text
    * through `spark.sql` (main.py:175-191 ships the same DDL string to
    * Postgres), then read back with a SQL SELECT. Same oracle as
    * [[clientTransactionCounts]] — Catalyst must plan the SQL text and
    * the DataFrame form to identical results, and the spec asserts
    * row-identity between the two entry paths. COUNT(tr-key) mirrors
    * the reference's COUNT(tr.transaction_id) literally (≡ COUNT(*)
    * post-inner-join: the key is non-null).
    */
  def viewSqlSurface(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("graft_ref_clients")
    Tables.orders(spark, sfDir).createOrReplaceTempView("graft_ref_accounts")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("graft_ref_transactions")
    spark.sql("""
      CREATE OR REPLACE TEMPORARY VIEW graft_client_transaction_counts AS
      SELECT c.c_custkey AS client_id,
             COUNT(t.l_orderkey) AS transaction_count
      FROM graft_ref_clients c
      JOIN graft_ref_accounts a ON c.c_custkey = a.o_custkey
      JOIN graft_ref_transactions t ON a.o_orderkey = t.l_orderkey
      GROUP BY c.c_custkey
      ORDER BY client_id""")
    spark.sql("SELECT * FROM graft_client_transaction_counts")
  }

  /** K3 DDL surface, view 2 of 3 — `monthly_transaction_summary`
    * (main.py:197-207) as CREATE-VIEW text + SQL readback, completing
    * the DDL path [[viewSqlSurface]] opened for the flagship. Same
    * oracle as [[monthlyTransactionSummary]]; the month renders as the
    * reference's TO_CHAR 'YYYY-MM-01' (a yyyy-MM format + literal
    * '-01' concat so no engine's pattern dialect is on the hash path),
    * and the sum runs in exact widened decimal with the one terminal
    * DOUBLE cast the DataFrame form documents.
    */
  def viewSqlMonthly(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("graft_ref_clients")
    Tables.orders(spark, sfDir).createOrReplaceTempView("graft_ref_accounts")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("graft_ref_transactions")
    spark.sql("""
      CREATE OR REPLACE TEMPORARY VIEW graft_monthly_transaction_summary AS
      SELECT concat(date_format(date_trunc('month', t.l_shipdate), 'yyyy-MM'), '-01')
               AS month,
             c.c_name AS client_email,
             COUNT(t.l_orderkey) AS transaction_count,
             CAST(CAST(SUM(CAST(t.l_extendedprice AS DECIMAL(18,2)))
               AS DECIMAL(20,2)) AS DOUBLE) AS total_amount
      FROM graft_ref_clients c
      JOIN graft_ref_accounts a ON c.c_custkey = a.o_custkey
      JOIN graft_ref_transactions t ON a.o_orderkey = t.l_orderkey
      GROUP BY 1, 2
      ORDER BY month, client_email""")
    spark.sql("SELECT * FROM graft_monthly_transaction_summary")
  }

  /** K3 DDL surface, view 3 of 3 — `high_transaction_accounts`
    * (main.py:213-221) as CREATE-VIEW text + SQL readback: the
    * single-table agg + HAVING form, preserving the month-as-`date`
    * oddity (the column NAMED date always holds a month start). Same
    * oracle as [[highTransactionAccounts]].
    */
  def viewSqlHigh(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("graft_ref_transactions")
    spark.sql("""
      CREATE OR REPLACE TEMPORARY VIEW graft_high_transaction_accounts AS
      SELECT date_format(date_trunc('month', l_shipdate), 'yyyy-MM-dd') AS date,
             l_orderkey AS account_id,
             COUNT(*) AS transaction_count
      FROM graft_ref_transactions
      GROUP BY 1, 2
      HAVING COUNT(*) > 2
      ORDER BY date, account_id""")
    spark.sql("SELECT * FROM graft_high_transaction_accounts")
  }
}
