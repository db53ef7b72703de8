package graft.sources

import org.apache.spark.sql.DataFrame

/** Typed JDBC sink surface (SURVEY.md K1-K3, main.py:139-179): append /
  * overwrite with explicit column-type DDL, mirroring pandas
  * `to_sql(..., if_exists=..., dtype=map)`. The DDL is the hand-pinned
  * [[RefSchemas]] `*ColumnTypes` fragments.
  *
  * The live `.jdbc()` path is executed end-to-end against embedded Derby
  * (real CREATE TABLE + INSERTs + read-back, append and overwrite) in
  * PipelineSpec — no Postgres in the build environment, but the writer
  * path is the same for any JDBC target.
  *
  * Scale note: `.jdbc` writes one connection per partition;
  * `numPartitions`/`batchsize` bound the fan-in so a 1000-executor
  * write can't exhaust the database's connection pool.
  */
object JdbcSink {

  /** K1 (append) / K2 (overwrite): write with pinned column types. */
  def write(df: DataFrame, url: String, table: String,
            props: java.util.Properties, columnTypes: String,
            overwrite: Boolean = false, numPartitions: Int = 8): Unit =
    df.repartition(numPartitions)
      .write
      .mode(if (overwrite) "overwrite" else "append")
      .option("createTableColumnTypes", columnTypes)
      .jdbc(url, table, props)
}
