package graft

import org.apache.spark.sql.SparkSession

/** The RUNNABLE pipeline entrypoint — reference parity for the
  * container's `CMD ["python","main.py"]` (Dockerfile:13): read the
  * env-var config (main.py:15-21), echo the greeting + config
  * (main.py:29-38), execute the ETL (`main()`, main.py:41-56), and
  * print the completion line (main.py:58-59). A user runs it as
  *
  * {{{
  *   spark-submit --class graft.Main <jar>        # cluster
  *   sbt "runMain graft.Main"                     # local[nproc]
  * }}}
  *
  * Env contract (names verbatim from main.py:15-21):
  *   - `API_BASE_URL`    — the challenge API root (required for a live
  *     run; absent → every ingest degrades to the S4 empty-relation
  *     fallback and the pipeline still completes, like the reference
  *     would with a dead endpoint).
  *   - `ADMIN_API_KEY`   — Bearer token for every fetch (main.py:66).
  *   - `DB_HOST`/`DB_PORT`/`DB_USERNAME`/`DB_PASSWORD`/`DB_NAME` — when
  *     ALL are present the three tables load through the typed JDBC
  *     sink exactly like the reference's Postgres engine URL
  *     (main.py:25-26; driver class resolved from the URL scheme).
  *     `GRAFT_JDBC_URL` overrides the assembled URL for non-Postgres
  *     targets (the embedded-Derby spec path). Absent → the load step
  *     is skipped and the views stay live on the engine itself — the
  *     engine IS the database here, so a missing warehouse is not an
  *     error the way a missing Postgres would be.
  *     `GRAFT_JDBC_DRIVER` names the JDBC driver class when the URL
  *     scheme alone does not resolve one.
  *   - `GRAFT_OUT_DIR`   — optional parquet lake landing for the three
  *     tables (the cluster-native alternative to the JDBC load).
  *
  * Transactions are fetched by [[Pipeline.run]]'s one serial page loop,
  * as the reference does (main.py:90-118).
  */
object Main {

  /** The whole program against an injected session + env — separated
    * from [[main]] so PipelineSpec can drive it end-to-end against the
    * stub API and assert the printed lines. Returns the result; prints
    * exactly what the reference prints. */
  def run(spark: SparkSession, env: String => Option[String],
          out: String => Unit = Console.println): Pipeline.Result = {
    // greeting + config echo (main.py:29-38; the cfonts 3-D banner
    // renders as a plain banner — the TEXT is the parity surface).
    // DELIBERATE non-parity: the reference echoes ADMIN_API_KEY and
    // DB_PASSWORD verbatim (main.py:33, :36); SURVEY.md §5 rules that
    // secret echo must NOT be replicated. Line shape kept, values
    // masked — unset still prints `null` so the operator can tell
    // "missing" from "set but hidden".
    def masked(name: String): String =
      env(name).map(_ => "****").getOrElse("null")
    out("=== Hello ZYLYTY! ===")
    out(s"Admin API Key: ${masked("ADMIN_API_KEY")}")
    out(s"Database Host: ${env("DB_HOST").orNull}")
    out(s"Database Port: ${env("DB_PORT").orNull}")
    out(s"Database Username: ${env("DB_USERNAME").orNull}")
    out(s"Database Password: ${masked("DB_PASSWORD")}")
    out(s"Database Name: ${env("DB_NAME").orNull}")
    out(s"API Base URL: ${env("API_BASE_URL").orNull}")

    val result = Pipeline.run(spark, env("API_BASE_URL").getOrElse(""), env("ADMIN_API_KEY"))

    // the reference's load step (main.py:53): typed JDBC when a DB is
    // configured, parquet lake when a landing dir is, else live views
    val dbParts = Seq("DB_HOST", "DB_PORT", "DB_USERNAME", "DB_PASSWORD",
      "DB_NAME").map(env)
    val jdbcUrl = env("GRAFT_JDBC_URL").orElse {
      if (dbParts.forall(_.isDefined)) {
        val Seq(h, p, _, _, d) = dbParts.map(_.get)
        Some(s"jdbc:postgresql://$h:$p/$d")
      } else None
    }
    jdbcUrl.foreach { url =>
      val props = new java.util.Properties()
      env("DB_USERNAME").foreach(props.setProperty("user", _))
      env("DB_PASSWORD").foreach(props.setProperty("password", _))
      env("GRAFT_JDBC_DRIVER").foreach(props.setProperty("driver", _))
      Pipeline.saveTablesJdbc(spark, url, props)
    }
    env("GRAFT_OUT_DIR").foreach(Pipeline.saveTables(spark, _))

    out(result.completionLine) // main.py:58-59, verbatim format
    result
  }

  def main(args: Array[String]): Unit = {
    // spark-submit supplies the master on a cluster; default local[cpus]
    val spark = GraftSession.builder().appName("graft-zylyty").getOrCreate()
    try run(spark, sys.env.get)
    finally spark.stop()
  }
}
