package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

object Http {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  def post(url: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(120))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  def get(url: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(30)).GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
}

/** One completed operation: its client was ready at `readyNs` (when its
  * previous operation ended), sent it at `sentNs` and had the reply at
  * `endNs`.
  */
final case class Done(idx: Int, kind: String, readyNs: Long, sentNs: Long,
    endNs: Long, ok: Boolean, body: String) {
  def latencyMs: Double = (endNs - sentNs) / 1e6
  /** How late the generator sent it: the client's own time between ops. */
  def lagMs: Double = (sentNs - readyNs) / 1e6
}

/** Load generation: closed loops, which model callers that each wait for
  * their reply before sending the next request.
  */
object Load {
  /** Run `body(0..n-1)` on `n` threads, the calling thread being one. */
  private def runThreads(n: Int, name: String)(body: Int => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (1 until n).map { t =>
      val th = new Thread(() =>
        try body(t) catch { case e: Throwable => errors.add(e) }, s"perfbench-$name-$t")
      th.start(); th
    }
    try body(0) catch { case e: Throwable => errors.add(e) }
    ts.foreach(_.join())
    errors.asScala.headOption.foreach(e => throw e)
  }

  /** Apply `f` to every item, from `threads` threads. */
  def each[T](threads: Int, items: Seq[T])(f: T => Unit): Unit = {
    val next = new AtomicInteger(0)
    runThreads(threads, "each") { _ =>
      var k = next.getAndIncrement()
      while (k < items.size) { f(items(k)); k = next.getAndIncrement() }
    }
  }

  /** `clients` threads; each sends operation `next()` as soon as its
    * previous one completed, until `seconds` have passed since the start.
    * `send(i, ready)` performs operation `i` for a client ready since
    * `ready`.
    */
  def closed(clients: Int, seconds: Double, next: () => Int)(
      send: (Int, Long) => Done): Seq[Done] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    runThreads(clients, "closed") { _ =>
      var ready = System.nanoTime()
      while (System.nanoTime() < end) {
        val d = send(next(), ready)
        out.add(d)
        ready = d.endNs
      }
    }
    out.asScala.toSeq
  }
}

/** A server's `/metrics` document: counters, and the recent-query ring
  * (wall time, rows scanned, rows returned per query). Polled while a
  * traced phase runs; ring entries are kept once each.
  */
final class MetricsWatch(val base: String) {
  import MetricsWatch.Stat
  private val seen = mutable.LinkedHashMap.empty[String, Stat]
  // ring entries already present at the first poll predate the phase
  private val before = mutable.HashSet.empty[String]
  private var first: Option[Map[String, Long]] = None
  @volatile private var last: Map[String, Long] = Map.empty

  def poll(): Unit = {
    val (code, body) = Http.get(s"$base/metrics")
    if (code == 200) {
      val j = JsonMethods.parse(body)
      def num(v: JValue): Long = v match {
        case JInt(x) => x.toLong
        case JLong(x) => x
        case _ => 0L
      }
      val counters = Seq("queries", "errors", "rejected").map(k => k -> num(j \ k)).toMap
      synchronized {
        val firstPoll = first.isEmpty
        if (firstPoll) first = Some(counters)
        last = counters
        j \ "recent" match {
          case JArray(rs) => rs.foreach { r =>
            val key = JsonMethods.compact(JsonMethods.render(r))
            if (firstPoll) before += key
            else if (!seen.contains(key) && !before(key))
              seen(key) = Stat(num(r \ "wallMs").toDouble, num(r \ "rowsScanned"),
                num(r \ "rowsReturned"))
          }
          case _ => ()
        }
      }
    }
  }

  /** Change of counter `k` between the first and the last poll. */
  def delta(k: String): Long = synchronized {
    last.getOrElse(k, 0L) - first.flatMap(_.get(k)).getOrElse(0L)
  }

  def stats: Seq[Stat] = synchronized(seen.values.toSeq)
}

object MetricsWatch {
  final case class Stat(wallMs: Double, rowsScanned: Long, rowsReturned: Long)
}

/** Polls a set of [[MetricsWatch]]es every `periodMs` until closed. */
final class Poller(watches: Seq[MetricsWatch], periodMs: Long) extends AutoCloseable {
  @volatile private var running = true
  watches.foreach(_.poll())
  private val th = new Thread(() => {
    while (running) {
      Thread.sleep(periodMs)
      watches.foreach(w => try w.poll() catch { case _: Exception => () })
    }
  }, "perfbench-metrics-poller")
  th.setDaemon(true)
  th.start()
  def close(): Unit = {
    running = false
    th.join()
    watches.foreach(_.poll())
  }
}
