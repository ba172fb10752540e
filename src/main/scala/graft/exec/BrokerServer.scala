package graft.exec

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.aql.AqlJson

/** HTTP front for the scatter-gather [[Broker]] — the runnable broker
  * tier. Serves the same `POST /query/aql` contract as a single
  * [[graft.api.GraftServer]] (AQLRequest in, AQLResponse out), but
  * resolves each query by fanning it over the configured instances and
  * merging partials, so a client can point at the broker unchanged (the
  * reference's broker/handler.go plays exactly this role in front of its
  * datanodes). Per-query failures land in `errors[i]` with an empty
  * result, matching the AQLResponse contract.
  *
  * Needs no SparkSession: the broker's work is HTTP fan-out plus the
  * merge algebra over partial results.
  */
/** @param maxQueryConnections admission bound for the query endpoint
  *   (0 = no bound beyond the pool): the broker tier fronts every
  *   client, so without admission a client flood queues unboundedly in
  *   the executor — excess requests 503 fast instead (the reference
  *   provisions broker-tier connections explicitly, ares.yaml:17-22),
  *   and the `rejected` counter records each one
  * @param queryTimeoutSec per-query deadline passed into the underlying
  *   [[Broker]] (0 = none): an exceeded query surfaces the same named
  *   `query deadline exceeded` error an instance's deadline produces and
  *   frees the handler thread; counted in `deadlineCancelled`
  */
final class BrokerServer private (broker: Broker, instances: () => Seq[String],
    port: Int, serverThreads: Int, maxQueryConnections: Int,
    queryTimeoutSec: Long) {

  /** Static instance list (one entry per slice, `|`-separated replicas). */
  def this(hosts: Seq[String], port: Int = 0, serverThreads: Int = 16,
      maxQueryConnections: Int = 0, queryTimeoutSec: Long = 0) =
    this(new Broker(hosts, deadlineSeconds = queryTimeoutSec), () => hosts,
      port, serverThreads, maxQueryConnections, queryTimeoutSec)
  require(serverThreads > 0, s"serverThreads $serverThreads must be positive")
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // bounded request pool — the broker tier fronts EVERY client, and the
  // JDK default (no executor) would serve all requests on one dispatcher
  // thread, serializing the scatter half of scatter-gather across
  // concurrent clients (ref ares.yaml:17-22 provisions 650 connections).
  // With an admission bound set, the pool must cover every admission
  // slot (plus room for /health and /metrics probes) or the semaphore
  // is unreachable — requests would queue instead of 503ing.
  private val poolThreads = math.max(serverThreads,
    if (maxQueryConnections > 0) maxQueryConnections + 4 else 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    poolThreads,
    (r: Runnable) => { val t = new Thread(r, "graft-broker-http"); t.setDaemon(true); t })
  server.setExecutor(pool)

  // operational counters (the reference's reporter metric families for
  // the broker tier), served at GET /metrics
  private val queriesServed = new java.util.concurrent.atomic.AtomicLong(0)
  private val queryErrors = new java.util.concurrent.atomic.AtomicLong(0)
  private val rejected = new java.util.concurrent.atomic.AtomicLong(0)
  private val deadlineCancelled = new java.util.concurrent.atomic.AtomicLong(0)

  private val querySlots =
    if (maxQueryConnections > 0)
      new java.util.concurrent.Semaphore(maxQueryConnections) else null

  private def countOutcome(outcome: Either[String, _]): Unit = outcome match {
    case Right(_) => queriesServed.incrementAndGet()
    case Left(msg) =>
      queryErrors.incrementAndGet()
      if (msg != null && msg.startsWith("query deadline exceeded"))
        deadlineCancelled.incrementAndGet()
  }

  server.createContext("/query/aql", (ex: HttpExchange) => {
    // NOTE: no early `return` anywhere in this lambda —
    // NonLocalReturnControl from a stored handler escapes at invocation
    // time and kills the response; admission is an if/else instead
    try {
      if (querySlots != null && !querySlots.tryAcquire(
          100, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        // fail fast at saturation (ref ares.yaml connection bounds): a
        // rejected client retries; the unbounded alternative queues the
        // request invisibly behind every in-flight scatter
        rejected.incrementAndGet()
        respond(ex, 503, """{"error":"broker at capacity, retry"}""")
      } else try {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
        if (accept == "application/hll") {
          // merged binary sketch body for the first query (the same
          // content negotiation as a single instance)
          val first = AqlJson.parseRequest(body).queries.head
          val bin =
            try broker.aqlHllBinary(first)
            catch {
              case NonFatal(e) =>
                countOutcome(Left(Option(e.getMessage).getOrElse("")))
                throw e
            }
          queriesServed.incrementAndGet()
          ex.getResponseHeaders.set("Content-Type", "application/hll")
          ex.sendResponseHeaders(200, bin.length)
          ex.getResponseBody.write(bin)
        } else {
          val request = AqlJson.parseRequest(body)
          val outcomes = request.queries.map { q =>
            try Right(broker.merged(q))
            catch {
              case NonFatal(e) =>
                Left(Option(e.getMessage).getOrElse(e.getClass.getName))
            }
          }
          outcomes.foreach(countOutcome)
          val response = JObject(
            "results" -> JArray(outcomes.map {
              case Right(j) => j
              case Left(_) => JObject()
            }.toList),
            "errors" -> (if (outcomes.exists(_.isLeft))
              JArray(outcomes.map {
                case Right(_) => JNull
                case Left(msg) => JString(msg): JValue
              }.toList)
            else JNull))
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(response)))
        }
      } finally {
        if (querySlots != null) querySlots.release()
      }
    } catch {
      case NonFatal(e) =>
        respond(ex, 400, JsonMethods.compact(JsonMethods.render(
          JObject("error" -> JString(Option(e.getMessage).getOrElse(e.getClass.getName))))))
    } finally ex.close()
  })

  // liveness + the CURRENT instance list (re-resolved per request under a
  // dynamic topology), for operators pointing clients at the tier
  server.createContext("/health", (ex: HttpExchange) => {
    try respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
      "status" -> JString("up"),
      "instances" -> JArray(instances().map(JString(_)).toList)))))
    finally ex.close()
  })

  // broker-tier operational counters (the GraftServer /metrics analogue)
  server.createContext("/metrics", (ex: HttpExchange) => {
    try respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
      "queries" -> JLong(queriesServed.get()),
      "errors" -> JLong(queryErrors.get()),
      "rejected" -> JLong(rejected.get()),
      "deadlineCancelled" -> JLong(deadlineCancelled.get())))))
    finally ex.close()
  })

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  def start(): Unit = server.start()
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def boundPort: Int = server.getAddress.getPort
}

object BrokerServer {
  /** Broker front over a [[BrokerTopology]]: instances joining/leaving
    * the shared membership directory reshape the fan-out per query, no
    * broker restart (the reference's etcd-watched dynamic topology role).
    */
  def dynamic(topology: BrokerTopology, port: Int = 0,
      serverThreads: Int = 16, maxQueryConnections: Int = 0,
      queryTimeoutSec: Long = 0): BrokerServer =
    new BrokerServer(Broker.dynamic(topology, deadlineSeconds = queryTimeoutSec),
      () => topology.slices().map(_.mkString("|")), port, serverThreads,
      maxQueryConnections, queryTimeoutSec)
}
