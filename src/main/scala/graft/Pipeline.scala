package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.operators.{Cleaning, Layout, Materialize}
import graft.sources._

/** The reference's end-to-end batch pipeline (SURVEY.md §3 EP1,
  * main.py:41-59) re-expressed on Spark: ingest three datasets over
  * HTTP (two CSVs + one paginated JSON), clean transactions
  * (first-wins dedup on (timestamp, account_id) + amount
  * coerce-else-zero), register the three analytics views, and return
  * the `ZYLYTY Data Import Completed [clients, accounts, transactions]`
  * counts (main.py:58-59).
  *
  * Differences from the reference, by design:
  *  - dedup "first" is pinned to the explicit `arrival_idx` the
  *    paginated source assigns (the reference relies on implicit pandas
  *    row order, which no distributed engine preserves — SURVEY.md §7);
  *  - the Postgres load becomes `saveTables` (parquet or JDBC via
  *    [[graft.sources.JdbcSink]]) — views run on the engine itself;
  *  - transactions parse under the pinned string schema (typed by
  *    `cleanTransactions`) instead of one inferred from the rows, so no
  *    inference pass runs and a field absent from every row is null;
  *  - the tables are landed once (`Materialize.corpus`) before the views
  *    read them, as the reference loads Postgres before `CREATE VIEW`;
  *  - the three datasets are requested and landed concurrently (the
  *    three endpoints are idempotent GETs), and `saveTables` writes its
  *    three tables concurrently. Transaction pages stay one serial
  *    driver loop in the reference's request order, retrying the same
  *    page and stopping at the first short page ([[PaginatedJsonSource]]);
  *    only their parse runs on the executors;
  *  - ingest failures degrade to typed EMPTY relations (S4) and the
  *    pipeline still completes, like the reference.
  */
object Pipeline {

  case class Result(clients: Long, accounts: Long, transactions: Long) {
    /** main.py:58's completion line, verbatim format. */
    def completionLine: String =
      s"ZYLYTY Data Import Completed [$clients, $accounts, $transactions]"
  }

  /** Ingest + clean + land + register temp views (`accounts`, `clients`,
    * `transactions` + the three analytics views). Returns the counts.
    * Each table is fetched and landed once, the three concurrently, so the
    * counts, views and sink read landed rows instead of re-running ingest
    * and dedup.
    */
  def run(spark: SparkSession, baseUrl: String, token: Option[String],
          limit: Int = 1000, maxPages: Int = 300,
          retrySleepMillis: Long = 2000): Result = {
    val fetch = new HttpFetch(bearerToken = token)
    def csv(name: String, schema: StructType) = Materialize.corpus(
      CsvHttpSource.readOrEmpty(spark, s"$baseUrl/download/$name.csv", schema, fetch))
    val txUrl = s"$baseUrl/transactions"
    val Seq(accounts, clients, transactions) = Layout.inParallel(
      () => csv("accounts", RefSchemas.accounts),
      () => csv("clients", RefSchemas.clients),
      () => cleanTransactions(spark,
        try PaginatedJsonSource.readRaw(spark, txUrl, fetch, limit = limit,
          maxPages = maxPages, retrySleepMillis = retrySleepMillis)
          .fold(spark.emptyDataFrame)(parseTransactions)
        catch { case NonFatal(e) => // S4, logged like CsvHttpSource.readOrEmpty
          System.err.println(s"[graft] transactions ingest failed for $txUrl: ${e.getMessage}")
          spark.emptyDataFrame
        }))
    Seq("accounts" -> accounts, "clients" -> clients, "transactions" -> transactions)
      .foreach { case (name, df) => df.createOrReplaceTempView(name) }
    createViews(spark)
    counts(clients, accounts, transactions)
  }

  /** The transactions parse: the `(arrival_idx, raw)` rows under the
    * pinned schema with every field a string, typed by
    * `cleanTransactions` — one declarative parse, run by the executors. */
  private def parseTransactions(raw: DataFrame): DataFrame = {
    val txSchema = StructType(
      RefSchemas.transactions.fields.map(_.copy(dataType = StringType)))
    raw.select(col("arrival_idx"), from_json(col("raw"), txSchema).as("r"))
      .select(col("arrival_idx") +: RefSchemas.transactions.fieldNames.toSeq
        .map(n => col(s"r.$n").as(n)): _*)
  }

  /** The three row counts in one aggregate over the union of the three
    * frames, each row tagged with its table: one query instead of three
    * `count()`s (each two jobs under adaptive execution). */
  private[graft] def counts(clients: DataFrame, accounts: DataFrame,
                            transactions: DataFrame): Result = {
    def rows(t: Int) = count(when(col("t") === t, 1))
    val row = Seq(clients, accounts, transactions).zipWithIndex
      .map { case (df, t) => df.select(lit(t).as("t")) }
      .reduce(_ union _)
      .agg(rows(0), rows(1), rows(2))
      .head()
    Result(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** clean_transactions_data (main.py:121-126): typed projection,
    * first-wins dedup on (timestamp, account_id) by arrival order,
    * amount coerce-else-zero, landed through `Materialize.corpus`. A
    * schema-less input (no element, or failed ingest) is the empty table (T4).
    */
  def cleanTransactions(spark: SparkSession, raw: DataFrame): DataFrame = {
    if (raw.schema.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], RefSchemas.transactions)
    val typed = raw.select(
      col("arrival_idx"),
      col("transaction_id").cast("long"),
      col("timestamp").cast("timestamp"),
      col("account_id").cast("long"),
      Cleaning.coerceDecimalElseZero(col("amount")).as("amount"),
      col("type").cast("string"),
      col("medium").cast("string"))
    Materialize.corpus(
      Cleaning.dedupFirstKeepFirst(typed, Seq("timestamp", "account_id"), "arrival_idx")
        .drop("arrival_idx"))
  }

  /** create_views (main.py:175-223): the three analytics views as
    * engine temp views over the ingested temp tables — same SQL shape
    * the reference ships to Postgres, executed by Catalyst instead.
    */
  def createViews(spark: SparkSession): Unit = {
    spark.sql("""
      CREATE OR REPLACE TEMPORARY VIEW client_transaction_counts AS
      SELECT c.client_id, COUNT(tr.transaction_id) AS transaction_count
      FROM clients c
      JOIN accounts a ON c.client_id = a.client_id
      JOIN transactions tr ON a.account_id = tr.account_id
      GROUP BY c.client_id
      ORDER BY c.client_id""")
    spark.sql("""
      CREATE OR REPLACE TEMPORARY VIEW monthly_transaction_summary AS
      SELECT date_format(date_trunc('month', tr.timestamp), 'yyyy-MM-01') AS month,
             c.client_email,
             COUNT(tr.transaction_id) AS transaction_count,
             SUM(tr.amount) AS total_amount
      FROM clients c
      JOIN accounts a ON c.client_id = a.client_id
      JOIN transactions tr ON a.account_id = tr.account_id
      GROUP BY 1, 2
      ORDER BY month, client_email""")
    spark.sql("""
      CREATE OR REPLACE TEMPORARY VIEW high_transaction_accounts AS
      SELECT date_format(date_trunc('month', tr.timestamp), 'yyyy-MM-dd') AS date,
             tr.account_id,
             COUNT(tr.transaction_id) AS transaction_count
      FROM transactions tr
      GROUP BY 1, 2
      HAVING COUNT(tr.transaction_id) > 2
      ORDER BY date, account_id""")
  }

  /** Persist the three tables (K1/K2 analog when no JDBC target exists:
    * parquet lake layout; JDBC via [[saveTablesJdbc]]), concurrently: the
    * three writes read landed rows and write separate directories.
    */
  def saveTables(spark: SparkSession, outDir: String): Unit =
    Layout.inParallel(Seq("accounts", "clients", "transactions").map(t => () =>
      spark.table(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")): _*)

  /** The reference's actual database load (main.py:129-172): the three
    * ingested tables APPENDED through typed JDBC with the pinned
    * column-type DDL — `to_sql(if_exists='append', dtype=…)` ×3. Any
    * JDBC database works (the reference targets Postgres; PipelineSpec
    * executes this live against embedded Derby — real CREATE TABLE +
    * INSERTs + read-back, not DDL strings). `overwrite` is the K2
    * variant. `numPartitions` bounds writer fan-in so a wide cluster
    * can't exhaust the database's connection pool (JdbcSink scale note).
    */
  def saveTablesJdbc(spark: SparkSession, url: String,
      props: java.util.Properties, overwrite: Boolean = false,
      numPartitions: Int = 8): Unit =
    Seq("accounts" -> RefSchemas.accountsColumnTypes,
        "clients" -> RefSchemas.clientsColumnTypes,
        "transactions" -> RefSchemas.transactionsColumnTypes).foreach { case (t, ddl) =>
      JdbcSink.write(spark.table(t), url, t, props, ddl, overwrite, numPartitions)
    }
}
