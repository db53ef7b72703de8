package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The challenge API's data for `etl_ingest`, generated from a seed:
  * `clients.csv`, `accounts.csv` and paginated transactions with planted
  * duplicate (timestamp, account_id) keys, non-numeric amounts and a
  * short last page. */
final case class EtlData(clientsCsv: String, accountsCsv: String, pages: IndexedSeq[String],
                         expected: EtlExpected)

/** What `Pipeline.run` and its three views must return on [[EtlData]],
  * computed from the generated rows with plain collections. */
final case class EtlExpected(completionLine: String, viewHashes: Map[String, String])

object EtlStub {
  val PageSize = 1000
  val Views = Seq("client_transaction_counts", "monthly_transaction_summary",
    "high_transaction_accounts")

  private final case class Tx(id: Long, ts: String, account: Long, amount: String,
                              kind: String, medium: String)

  def generate(seed: Long, clients: Int = 2000, accounts: Int = 8000,
               transactions: Int = 49600): EtlData = {
    val rnd = new scala.util.Random(seed)
    val clientIds = (0 until clients).map(i => f"c${Math.floorMod(seed, 1000L)}%03d-$i%05d")
    val clientsCsv = (Seq("client_id,client_name,client_email,client_birth_date") ++
      clientIds.zipWithIndex.map { case (c, i) =>
        val birth = java.time.LocalDate.of(1950, 1, 1).plusDays(rnd.nextInt(18000).toLong)
        s"$c,Client $i,client$i@example.com,$birth"
      }).mkString("\n") + "\n"
    val accountOwner = (0 until accounts).map(_ => clientIds(rnd.nextInt(clients)))
    val accountIds = (0 until accounts).map(i => 100000L + i)
    val accountsCsv = (Seq("account_id,client_id") ++
      accountIds.zip(accountOwner).map { case (a, c) => s"$a,$c" }).mkString("\n") + "\n"
    val start = java.time.LocalDateTime.of(2023, 1, 1, 0, 0)
    val txs = Vector.newBuilder[Tx]
    var prev = Vector.empty[Tx]
    (0 until transactions).foreach { i =>
      val amount =
        if (rnd.nextInt(100) == 0) Seq("N/A", "abc", "", "12,50")(rnd.nextInt(4))
        else { val cents = rnd.nextInt(1000000); f"${cents / 100}.${cents % 100}%02d" }
      val tx =
        if (prev.nonEmpty && rnd.nextInt(50) == 0) { // ~2%: an earlier row's key again
          val p = prev(rnd.nextInt(prev.size))
          Tx(i + 1L, p.ts, p.account, amount, "debit", "card")
        } else {
          val ts = start.plusSeconds(rnd.nextInt(2 * 365 * 86400).toLong)
            .toString.replace('T', ' ')
          Tx(i + 1L, if (ts.length == 16) ts + ":00" else ts, accountIds(rnd.nextInt(accounts)),
            amount, Seq("debit", "credit")(rnd.nextInt(2)), Seq("card", "online", "atm")(rnd.nextInt(3)))
        }
      txs += tx
      if (prev.size < 5000) prev :+= tx
    }
    val all = txs.result()
    val pages = all.grouped(PageSize).map(_.map(t =>
      s"""{"transaction_id": ${t.id}, "timestamp": "${t.ts}", "account_id": ${t.account}, """ +
        s""""amount": "${t.amount}", "type": "${t.kind}", "medium": "${t.medium}"}""")
      .mkString("""{"results": [""", ", ", "]}")).toIndexedSeq
    EtlData(clientsCsv, accountsCsv,
      if (all.size % PageSize == 0) pages :+ """{"results": []}""" else pages,
      model(clientIds, accountIds.zip(accountOwner).toMap, all))
  }

  /** The reference semantics: first arrival wins per (timestamp, account_id),
    * unparsable amounts become 0.00, views as in `Pipeline.createViews`. */
  private def model(clientIds: Seq[String], owner: Map[Long, String], txs: Seq[Tx]): EtlExpected = {
    val seen = scala.collection.mutable.HashSet.empty[(String, Long)]
    val clean = txs.filter(t => seen.add((t.ts, t.account)))
    def amount(s: String) = scala.util.Try(new java.math.BigDecimal(s.trim))
      .filter(d => d.precision - d.scale <= 8)
      .map(_.setScale(2, java.math.RoundingMode.HALF_UP)).getOrElse(java.math.BigDecimal.ZERO.setScale(2))
    val email = clientIds.zipWithIndex.map { case (c, i) => c -> s"client$i@example.com" }.toMap
    val month = (t: Tx) => t.ts.take(7) + "-01"
    val counts = clean.groupBy(t => owner(t.account)).toSeq.sortBy(_._1)
      .map { case (c, ts) => Seq[Any](c, ts.size.toLong) }
    val monthly = clean.groupBy(t => (month(t), email(owner(t.account)))).toSeq.sortBy(_._1)
      .map { case ((m, e), ts) =>
        Seq[Any](m, e, ts.size.toLong, ts.map(t => amount(t.amount)).reduce(_ add _))
      }
    val high = clean.groupBy(t => (month(t), t.account)).toSeq.filter(_._2.size > 2).sortBy(_._1)
      .map { case ((m, a), ts) => Seq[Any](m, a, ts.size.toLong) }
    EtlExpected(
      s"ZYLYTY Data Import Completed [${clientIds.size}, ${owner.size}, ${clean.size}]",
      Map(
        "client_transaction_counts" -> Canon.hash(Seq("client_id", "transaction_count"), counts),
        "monthly_transaction_summary" -> Canon.hash(
          Seq("month", "client_email", "transaction_count", "total_amount"), monthly),
        "high_transaction_accounts" -> Canon.hash(
          Seq("date", "account_id", "transaction_count"), high)))
  }
}

/** The stub API on one daemon thread, with its own service counters. */
final class StubServer(data: EtlData) extends AutoCloseable {
  val requests = new AtomicLong
  val bytes = new AtomicLong
  val busyNanos = new AtomicLong
  private val clients = data.clientsCsv.getBytes("UTF-8")
  private val accounts = data.accountsCsv.getBytes("UTF-8")
  private val pages = data.pages.map(_.getBytes("UTF-8"))
  private val empty = """{"results": []}""".getBytes("UTF-8")
  private val pool = Executors.newSingleThreadExecutor(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-stub-api"); t.setDaemon(true); t
    }
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  private def serve(path: String)(body: HttpExchange => Array[Byte]): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val t0 = System.nanoTime()
      val b = body(ex)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
      requests.incrementAndGet(); bytes.addAndGet(b.length)
      busyNanos.addAndGet(System.nanoTime() - t0)
    })
  serve("/download/clients.csv")(_ => clients)
  serve("/download/accounts.csv")(_ => accounts)
  serve("/transactions") { ex =>
    val q = ex.getRequestURI.getQuery.split("&").map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v
    }.toMap
    require(q.get("limit").contains(EtlStub.PageSize.toString), s"unexpected limit in $q")
    pages.lift(q("page").toInt).getOrElse(empty)
  }
  server.start()

  val baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}
