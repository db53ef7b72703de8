package graft.sources

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side paginated JSON ingestion (SURVEY.md S3, main.py:90-118):
  * `GET {base}?page={p}&limit={n}` for p = 0..maxPages, stop early when
  * a page returns fewer than `limit` rows; on a fetch error sleep and
  * retry the SAME page (the reference does not advance the page on the
  * error path — main.py:113-116 — but retries are bounded here where
  * the reference loops forever). A malformed request (a URL without a
  * scheme, say) is not retried: no attempt at it can succeed.
  *
  * Each page body is `{"results": [...]}` (fallback: a bare array).
  * Rows get a dense `arrival_idx` = page·limit + position-in-page — the
  * explicit arrival order that makes first-wins dedup deterministic in
  * a distributed engine (SURVEY.md §7 hard parts; the reference relies
  * on implicit pandas row order).
  *
  * This form is behaviorally exact w.r.t. the reference: it fetches the
  * pages one after another on the driver, then hands the raw elements
  * to the executors, which parse them ([[readRaw]] spreads the rows over
  * `defaultParallelism` partitions).
  */
object PaginatedJsonSource {

  /** Split the elements of the page's results array, as raw JSON
    * strings — objects, arrays, AND scalars (comma-split at array
    * depth, string/escape-aware). Tolerates a bare top-level array
    * payload.
    */
  def pageElements(body: String): Seq[String] = {
    val trimmed = body.trim
    val arrStart = {
      val key = trimmed.indexOf("\"results\"")
      if (key >= 0) trimmed.indexOf('[', key) else trimmed.indexOf('[')
    }
    if (arrStart < 0) return Seq.empty
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var depth = 1 // inside the results '['
    var inStr = false
    var esc = false
    var i = arrStart + 1
    var done = false
    def flush(): Unit = {
      val s = sb.toString.trim
      if (s.nonEmpty) out += s
      sb.clear()
    }
    while (i < trimmed.length && !done) {
      val c = trimmed.charAt(i)
      if (inStr) {
        sb.append(c)
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true; sb.append(c)
        case '[' | '{' => depth += 1; sb.append(c)
        case ']' | '}' =>
          depth -= 1
          if (depth == 0) { flush(); done = true } // end of results array
          else sb.append(c)
        case ',' if depth == 1 => flush()
        case other => sb.append(other)
      }
      i += 1
    }
    out.result()
  }

  /** The fetch loop: every element as an `(arrival_idx, raw)` row, spread
    * over `defaultParallelism` partitions so the executors parse them.
    * `None` when no element arrived.
    */
  def readRaw(spark: SparkSession, baseUrl: String, fetch: HttpFetch,
              limit: Int = 1000, maxPages: Int = 300,
              maxRetriesPerPage: Int = 5, retrySleepMillis: Long = 2000): Option[DataFrame] = {
    require(maxRetriesPerPage >= 0, s"maxRetriesPerPage must be >= 0, got $maxRetriesPerPage")
    val pages = Seq.newBuilder[(Long, String)] // (arrival_idx, raw json element)
    var page = 0
    var continue = true
    while (continue && page <= maxPages) {
      var attempts = 0
      var fetched: Option[Seq[String]] = None
      while (fetched.isEmpty) {
        Try(fetch.getString(s"$baseUrl?page=$page&limit=$limit")) match {
          case Success(body) => fetched = Some(pageElements(body))
          case Failure(e: IllegalArgumentException) => throw e // a malformed request: no retry can succeed
          case Failure(e) =>
            attempts += 1
            if (attempts > maxRetriesPerPage)
              throw new RuntimeException(
                s"page $page failed after $maxRetriesPerPage retries", e)
            Thread.sleep(retrySleepMillis) // retry SAME page (main.py:113-116)
        }
      }
      val elems = fetched.get
      elems.zipWithIndex.foreach { case (e, pos) =>
        pages += ((page.toLong * limit + pos, e))
      }
      if (elems.size < limit) continue = false // short page terminates
      page += 1
    }
    val rows = pages.result()
    if (rows.isEmpty) return None
    // an RDD, not a LocalRelation: the optimizer would fold every parse
    // over a local relation into it, on the driver. The plan keeps the
    // size estimate a LocalRelation of these rows gets, so a join over
    // the parsed rows still broadcasts them instead of shuffling both sides
    val schema = StructType(Seq(
      StructField("arrival_idx", LongType), StructField("raw", StringType)))
    val rdd = spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism)
      .map { case (i, s) => InternalRow(i, UTF8String.fromString(s)) }
    Some(GraftColumnBridge.ofRdd(spark, rdd, schema, rows.size))
  }

  /** [[readRaw]] parsed under a schema inferred from the data itself (the
    * reference infers via pd.DataFrame). No element arrived: the
    * schema-less empty frame, so callers see an empty schema instead of
    * probing the rows with an action.
    */
  def read(spark: SparkSession, baseUrl: String, fetch: HttpFetch,
           limit: Int = 1000, maxPages: Int = 300,
           maxRetriesPerPage: Int = 5, retrySleepMillis: Long = 2000): DataFrame = {
    import spark.implicits._
    readRaw(spark, baseUrl, fetch, limit, maxPages, maxRetriesPerPage, retrySleepMillis)
      .fold(spark.emptyDataFrame) { raw =>
        val schema = spark.read.json(raw.select("raw").as[String]).schema
        raw.select(col("arrival_idx"), from_json(col("raw"), schema).as("r"))
          .select(col("arrival_idx"), col("r.*"))
      }
  }
}
