package graft.sources

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.types.StructType

/** HTTP CSV ingestion (SURVEY.md S1/S2, main.py:62-87): one driver-side
  * GET (the reference's CSVs are single small files — accounts/clients),
  * then `spark.read.csv` over a `Dataset[String]` of the lines with
  * header and the caller's pinned schema. The dataset
  * route (not a driver-local temp file) keeps the parse cluster-safe —
  * executors can't read the driver's /tmp on a real deployment.
  * Records split quote-aware (RFC 4180): a newline inside a
  * double-quoted field stays part of its record, so multi-line fields
  * (an address with an embedded newline, as pandas' read_csv accepts —
  * main.py:68-69) parse identically here.
  *
  * Failure semantics reproduce S4 (main.py:71-73): any ingest error
  * degrades to an EMPTY relation with the pinned schema and the
  * pipeline continues — `readOrEmpty`. The throwing form is `read`.
  *
  * Scale note: a driver-side fetch is correct for dimension-table-sized
  * CSVs. Large CSV corpora should land on shared storage and be read
  * directly by executors (`spark.read.csv(path)` scales with splits);
  * an HTTP endpoint can't seek, so it can never split — that's a
  * property of the transport, not this code.
  */
object CsvHttpSource {

  def read(spark: SparkSession, url: String, schema: StructType,
           fetch: HttpFetch): DataFrame = {
    import spark.implicits._
    val records = splitRecords(fetch.getString(url)).filter(_.nonEmpty)
    // escape = quote: RFC 4180 / pandas double a quote to escape it
    // inside a quoted field ("y ""q""" → y "q"). Spark's univocity
    // parser defaults to backslash-escape, which would leave the
    // doubled quotes in the parsed value.
    val parsed = spark.read.option("header", "true").option("escape", "\"")
      .schema(schema).csv(records.toDS())
    // the parsed frame's plan has no statistics, so it would estimate as
    // larger than any broadcast threshold; the rows are the records
    // after the header
    GraftColumnBridge.ofRdd(spark, parsed.queryExecution.toRdd, parsed.schema,
      math.max(records.size - 1, 0))
  }

  /** RFC 4180 record split: a newline terminates a record only OUTSIDE
    * a quoted field. Quoting opens only when a quote is the FIRST
    * character of a field (matching pandas/univocity — a stray quote
    * inside an unquoted field like `5" nail` is literal data, not a
    * quote opener); inside a quoted field `""` is an escaped quote and
    * consumed as a pair. One linear driver-side pass over a
    * dimension-table-sized payload.
    */
  private[graft] def splitRecords(text: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false
    var fieldStart = true
    var i = 0
    val n = text.length
    while (i < n) {
      text.charAt(i) match {
        case '"' if inQuotes =>
          if (i + 1 < n && text.charAt(i + 1) == '"') {
            cur.append("\"\""); i += 1 // escaped quote, stay quoted
          } else {
            inQuotes = false // closing quote
            cur.append('"')
          }
        case '"' if fieldStart =>
          inQuotes = true; fieldStart = false
          cur.append('"')
        case ',' if !inQuotes =>
          cur.append(','); fieldStart = true
        case '\r' if !inQuotes && i + 1 < n && text.charAt(i + 1) == '\n' =>
          out += cur.result(); cur.clear(); fieldStart = true; i += 1
        case '\n' if !inQuotes =>
          out += cur.result(); cur.clear(); fieldStart = true
        case c =>
          cur.append(c); fieldStart = false
      }
      i += 1
    }
    if (cur.nonEmpty) out += cur.result()
    out.result()
  }

  /** S4: errors → empty relation with the pinned schema (pipeline
    * continues); logs to stderr like the reference's print (main.py:72).
    */
  def readOrEmpty(spark: SparkSession, url: String, schema: StructType,
                  fetch: HttpFetch): DataFrame =
    Try(read(spark, url, schema, fetch)) match {
      case Success(df) => df
      case Failure(e) =>
        System.err.println(s"[graft] csv ingest failed for $url: ${e.getMessage}")
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
}
