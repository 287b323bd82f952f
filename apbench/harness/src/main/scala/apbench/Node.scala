package apbench

import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.EvmLogs

/** Loopback JSON-RPC node serving the deterministic chain of
  * [[graft.sources.EvmLogs.fetchBlockLogs]]: `eth_blockNumber` (the
  * settable `tip`), `eth_getLogs` (address-set + topic0 filters, spans over
  * `maxSpan` blocks rejected with -32005 so the client's range splitter
  * runs) and `eth_getBlockByNumber` (header time and hash).
  *
  * Counts what reaches the wire and the time the handlers were busy. The
  * pool is a fixed set of daemon threads and `stop()` shuts it down, so the
  * JVM never waits on the node at exit. The JVM must run with
  * `-Dsun.net.httpserver.nodelay=true`: without TCP_NODELAY each response
  * waits on the kernel's delayed-ACK timer (~40 ms per call). */
final class Node(threads: Int, maxSpan: Long) {
  require(sys.props.get("sun.net.httpserver.nodelay").contains("true"),
    "start the JVM with -Dsun.net.httpserver.nodelay=true")

  @volatile var tip: Long = 0L

  val getLogs = new AtomicLong
  val headers = new AtomicLong
  val blockNumbers = new AtomicLong
  val rejected = new AtomicLong
  val logsServed = new AtomicLong
  val busyNs = new AtomicLong

  def counters: Map[String, Long] = Map(
    "eth_getLogs" -> getLogs.get, "eth_getBlockByNumber" -> headers.get,
    "eth_blockNumber" -> blockNumbers.get, "rejected_32005" -> rejected.get,
    "logs_served" -> logsServed.get, "busy_ns" -> busyNs.get)

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicLong
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"apbench-node-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  private val server = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 128)

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  private def hex(v: Long): String = "0x" + java.lang.Long.toHexString(v)
  private def quantity(j: JValue): Long = j match {
    case JString(s) if s.startsWith("0x") => java.lang.Long.parseLong(s.drop(2), 16)
    case JString(s) => s.toLong
    case other => sys.error(s"node: bad quantity $other")
  }

  private final class Reject(val code: Long, msg: String) extends RuntimeException(msg)

  private def logs(filter: JValue, out: java.lang.StringBuilder): Unit = {
    val from = quantity(filter \ "fromBlock")
    val to = quantity(filter \ "toBlock") // inclusive on the wire
    if (to - from + 1 > maxSpan) {
      rejected.incrementAndGet()
      throw new Reject(-32005, s"query returned more than $maxSpan results")
    }
    val addrs: Option[Set[Long]] = filter \ "address" match {
      case JArray(as) => Some(as.map(quantity).toSet)
      case JString(s) => Some(Set(quantity(JString(s))))
      case _ => None
    }
    val topic0 = filter \ "topics" match {
      case JArray(JString(t) :: _) => Some(t)
      case _ => None
    }
    out.append('[')
    var first = true
    var b = from
    while (b <= to) {
      EvmLogs.fetchBlockLogs(b).foreach { case (bn, bh, th, addr, top, value) =>
        if (addrs.forall(_.contains(addr)) && topic0.forall(_ == top)) {
          if (!first) out.append(',')
          first = false
          logsServed.incrementAndGet()
          out.append("{\"blockNumber\":\"").append(hex(bn))
            .append("\",\"blockHash\":\"").append(bh)
            .append("\",\"transactionHash\":\"").append(th)
            .append("\",\"address\":\"").append(hex(addr))
            .append("\",\"topics\":[\"").append(top)
            .append("\"],\"data\":\"").append(hex(math.round(value * 100))).append("\"}")
        }
      }
      b += 1
    }
    out.append(']')
  }

  server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
    val t0 = System.nanoTime()
    val req = JsonMethods.parse(new String(ex.getRequestBody.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8))
    val id = JsonMethods.compact(JsonMethods.render(req \ "id"))
    val params = req \ "params" match { case JArray(ps) => ps; case _ => Nil }
    val out = new java.lang.StringBuilder(256)
    out.append("{\"jsonrpc\":\"2.0\",\"id\":").append(id)
    try {
      val result = new java.lang.StringBuilder(256)
      req \ "method" match {
        case JString("eth_blockNumber") =>
          blockNumbers.incrementAndGet()
          result.append('"').append(hex(tip)).append('"')
        case JString("eth_getLogs") =>
          getLogs.incrementAndGet()
          logs(params.headOption.getOrElse(JNothing), result)
        case JString("eth_getBlockByNumber") =>
          headers.incrementAndGet()
          val b = params.headOption match {
            case Some(JString("latest")) | None => tip
            case Some(q) => quantity(q)
          }
          result.append("{\"number\":\"").append(hex(b))
            .append("\",\"hash\":\"").append(EvmLogs.blockHashOf(b))
            .append("\",\"timestamp\":\"").append(hex(EvmLogs.blockTime(b))).append("\"}")
        case m => throw new Reject(-32601, s"method not found: $m")
      }
      out.append(",\"result\":").append(result)
    } catch {
      case r: Reject =>
        out.append(",\"error\":{\"code\":").append(r.code)
          .append(",\"message\":\"").append(r.getMessage).append("\"}")
    }
    out.append('}')
    val bytes = out.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
    busyNs.addAndGet(System.nanoTime() - t0)
  })
  server.setExecutor(pool)
  server.start()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
