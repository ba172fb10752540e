package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.aql.{AqlCompiler, AqlJson, Catalog, SqlFront, TableDef}
import graft.api.GraftServer
import graft.exec.ResultShaper

/** The served workloads' tables: the seeded fact table archived
  * day-partitioned (the layout the server reads), and the dimension table.
  */
final class ServedData(spark: SparkSession, seed: Long, dir: Path, val sz: Gen.Sizes) {
  val archiveDir: String = dir.resolve("events").toString
  val usersDir: String = dir.resolve("users").toString
  val SortCols = Seq("event_type", "user_id")

  graft.ingest.Archiver.archive(Gen.eventsDf(spark, seed, sz), "ts", SortCols, archiveDir)
  Gen.usersDf(spark, seed, sz).write.parquet(usersDir)

  /** Catalog over the archive; `days` keeps a day-range slice only. */
  def catalog(days: Option[Column] = None): Catalog =
    Catalog(Map(
      "events" -> TableDef("events", isFact = true, Some("ts"), Set("ts"),
        Seq("event_id"), dayPartitioned = true, load = s => {
          val df = s.read.parquet(archiveDir)
          days.fold(df)(df.where)
        }),
      "users" -> TableDef("users", isFact = false, primaryKey = Seq("user_id"),
        load = s => s.read.parquet(usersDir))))

  /** The generated parquet read directly, for reference answers. */
  def events: DataFrame = spark.read.parquet(archiveDir)
  def users: DataFrame = spark.read.parquet(usersDir)
}

/** Sends the seeded query stream to `/query/aql` and, in a traced phase,
  * replays a sample of the same queries through the layer calls
  * in-process (parse → compile → plan → execute → shape) under spans. A
  * quarter of the replays parse the query's SQL text with
  * `SqlFront.translate` instead of its AQL document.
  */
final class QueryClient(spark: SparkSession, seed: Long, url: String,
    replayCatalog: Catalog) {
  val stream: IndexedSeq[Gen.Query] = Gen.queries(seed, 8000)
  private val cursor = new AtomicInteger(0)
  private val compiler = new AqlCompiler(replayCatalog, spark)
  val replayEvery = 3
  @volatile private var filesRead = Vector.empty[Double]
  // replayed execute times of narrow and of full-month windows
  @volatile private var executeMs = Map(false -> Vector.empty[Double], true -> Vector.empty[Double])

  private val endpoint = s"$url/query/aql"

  def next(): Int = cursor.getAndIncrement() % stream.length

  /** One untimed request per query shape, from `threads` threads. */
  def warmUp(threads: Int): Unit = {
    val firsts = Gen.Kinds.flatMap(k => stream.find(_.kind == k))
    Load.each(threads, firsts)(q => Http.post(endpoint, q.aqlRequest))
  }

  def send(i: Int, ready: Long, trace: Option[TraceCtx]): Done = {
    val q = stream(i)
    val req = trace.map(_.tracer.newRequest()).getOrElse(0L)
    val t0 = System.nanoTime()
    val (code, resp) =
      try trace.fold(Http.post(endpoint, q.aqlRequest))(t =>
        t.tracer.span("api.request", req)(Http.post(endpoint, q.aqlRequest)))
      catch { case e: java.io.IOException => (-1, String.valueOf(e.getMessage)) }
    val t1 = System.nanoTime()
    trace.foreach(t => if (i % replayEvery == 0) replay(t, q, req))
    val ok = code == 200 && Check.okBody(resp)
    if (!ok) System.err.println(s"[perfbench] query ${q.kind} failed: $code ${resp.take(300)}")
    Done(i, q.kind, ready, t0, t1, ok, resp)
  }

  private def replay(t: TraceCtx, q: Gen.Query, req: Long): Unit =
    SparkWork.replay(t.sc) {
      t.tracer.span("replay", req) {
        val parsed = t.tracer.span("aql.parse")(
          if (q.idx % 4 == 0) SqlFront.translate(q.sql)
          else AqlJson.parseRequest(q.aqlRequest).queries.head)
        val compiled = t.tracer.span("aql.compile")(compiler.compile(parsed))
        t.tracer.span("exec.plan")(compiled.df.queryExecution.executedPlan)
        val e0 = System.nanoTime()
        val rows = t.tracer.span("exec.execute")(compiled.df.collect())
        val e1 = System.nanoTime()
        // shaping alone: the shaper re-reads the executed rows, not the plan
        val executed = spark.createDataFrame(java.util.Arrays.asList(rows: _*), compiled.df.schema)
        t.tracer.span("exec.shape")(ResultShaper.shape(compiled.copy(df = executed)))
        val files = QueryClient.filesRead(compiled.df.queryExecution.executedPlan)
        synchronized {
          filesRead :+= files.toDouble
          executeMs = executeMs.updated(q.wide, executeMs(q.wide) :+ (e1 - e0) / 1e6)
        }
      }
    }

  def meanFilesRead: Double = synchronized(Stats.mean(filesRead))

  /** Median replayed execute time of narrow and of full-month windows. */
  def executeByWidth: String = synchronized {
    Seq(false -> "narrow", true -> "full-month").map { case (w, n) =>
      f"$n ${Stats.median(executeMs(w))}%.1f ms (${executeMs(w).size})" }.mkString(", ")
  }
}

object QueryClient {
  /** Files the executed plan's scans read (the `numFiles` scan metric). */
  def filesRead(p: SparkPlan): Long = {
    val nested: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    val kids = p.children ++ nested
    if (kids.isEmpty) p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    else kids.map(filesRead).sum
  }

  /** Per-layer numbers of the replayed queries and the server-side
    * counters (`served` = queries the servers answered in the phase).
    */
  def layers(t: TraceCtx, client: QueryClient, served: Seq[MetricsWatch]): Map[String, Double] = {
    System.err.println(s"[perfbench] replayed exec.execute median: ${client.executeByWidth}")
    val self = t.tracer.meanSelfMs
    val n = math.max(1L, served.map(_.delta("queries")).sum).toDouble
    val stats = served.flatMap(_.stats)
    val returned = stats.map(_.rowsReturned).filter(_ > 0).sum
    Map(
      "aql.parse_ms" -> self.getOrElse("aql.parse", 0.0),
      "aql.compile_ms" -> self.getOrElse("aql.compile", 0.0),
      "exec.plan_ms" -> self.getOrElse("exec.plan", 0.0),
      "exec.execute_ms" -> self.getOrElse("exec.execute", 0.0),
      "exec.shape_ms" -> self.getOrElse("exec.shape", 0.0),
      "exec.jobs_per_query" -> t.work.jobs.get / n,
      "exec.tasks_per_query" -> t.work.tasks.get / n,
      "exec.files_read_per_query" -> client.meanFilesRead,
      "exec.rows_scanned_per_returned" ->
        (if (returned > 0) stats.map(_.rowsScanned).sum.toDouble / returned else 0.0),
      "api.rejected" -> served.map(_.delta("rejected")).sum.toDouble,
      "api.errors" -> served.map(_.delta("errors")).sum.toDouble)
  }

  /** Up to `n` completed queries, seeded, covering every kind first. */
  def sample(ok: Seq[Done], seed: Long, n: Int): Seq[Done] = {
    val r = new scala.util.Random(seed)
    val shuffled = r.shuffle(ok.sortBy(_.idx))
    val firstPerKind = shuffled.groupBy(_.kind).values.map(_.head).toSeq
    (firstPerKind ++ shuffled.filterNot(firstPerKind.contains)).take(n)
  }
}

/** Three in-process GraftServer members, each serving a day-range third
  * of the archive, behind one BrokerServer; 3 closed-loop clients send
  * the mix as AQL (the broker serves `/query/aql` only). A fourth server
  * over the whole archive answers the checked queries once the load window
  * has ended: the broker's answer must equal its answer to the AQL
  * document and to the SQL statement, and those must equal the reference
  * answer computed with plain Spark over the generated parquet. The mean
  * client latency of these direct requests minus the mean `wallMs` the
  * server's `/metrics` ring gained for them is the HTTP overhead.
  */
object BrokerFanout extends Workload {
  val Clients = 3
  /** Checked queries per phase: one of each kind. */
  val Checks = 9

  def setup(spark: SparkSession, seed: Long, dir: Path): Running = {
    val data = new ServedData(spark, seed, dir, Gen.Served)
    val day = col(graft.ingest.Archiver.DayCol)
    val cuts = Seq(Gen.Days / 3, 2 * Gen.Days / 3).map(d =>
      java.time.LocalDate.ofEpochDay(Gen.Day0 / Gen.DaySec + d).toString)
    val slices = Seq(day < lit(cuts(0)), day >= lit(cuts(0)) && day < lit(cuts(1)),
      day >= lit(cuts(1)))
    val members = slices.map { p =>
      val s = new GraftServer(data.catalog(Some(p)), spark); s.start(); s
    }
    val memberUrls = members.map(m => s"http://localhost:${m.boundPort}")
    val whole = new GraftServer(data.catalog(), spark)
    whole.start()
    val wholeUrl = s"http://localhost:${whole.boundPort}"
    val broker = new graft.exec.BrokerServer(memberUrls)
    broker.start()
    val url = s"http://localhost:${broker.boundPort}"
    val client = new QueryClient(spark, seed, url, data.catalog())
    client.warmUp(Clients)
    Http.post(s"$wholeUrl/query/sql", client.stream.head.sqlRequest)

    /** `body` sent to the whole-archive server: its answer and the client
      * latency in ms.
      */
    def direct(path: String, body: String): (Option[Map[String, Double]], Double) = {
      val t0 = System.nanoTime()
      val (code, resp) = Http.post(s"$wholeUrl$path", body)
      val ms = (System.nanoTime() - t0) / 1e6
      (if (code == 200) Check.result(resp).map(Check.flatten) else None, ms)
    }

    new Running {
      def phase(seconds: Double, trace: Option[TraceCtx]): Phase = {
        val memberWatches = memberUrls.map(new MetricsWatch(_))
        val brokerWatch = new MetricsWatch(url)
        val poller = trace.map(_ => new Poller(memberWatches :+ brokerWatch, 250))
        val t0 = System.nanoTime()
        val ops = Load.closed(Clients, seconds, () => client.next())(
          (i, ready) => client.send(i, ready, trace))
        val elapsed = (System.nanoTime() - t0) / 1e9
        trace.foreach(_.work.stop())
        poller.foreach(_.close())
        val narrow = ops.filterNot(d => client.stream(d.idx).wide).map(_.latencyMs)
        val wide = ops.filter(d => client.stream(d.idx).wide).map(_.latencyMs)
        System.err.println(f"[perfbench] latency p50 narrow ${Stats.median(narrow)}%.1f ms " +
          f"(${narrow.size}), full-month ${Stats.median(wide)}%.1f ms (${wide.size})")

        val checked = QueryClient.sample(ops.filter(_.ok), seed, Checks)
        val wholeWatch = new MetricsWatch(wholeUrl)
        wholeWatch.poll()
        val directMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
        val wrong = new AtomicInteger(0)
        Load.each(Clients, checked) { d =>
          val q = client.stream(d.idx)
          val (single, ms1) = direct("/query/aql", q.aqlRequest)
          val (sql, ms2) = direct("/query/sql", q.sqlRequest)
          directMs.add(ms1)
          directMs.add(ms2)
          val same = for {
            b <- Check.result(d.body).map(Check.flatten)
            s <- single
            s2 <- sql
          } yield Check.same(b, s) && Check.same(s2, s) && Check.same(s,
            Check.expected(data.events, data.users, q), hll = q.kind == "hll_by_type")
          if (!same.contains(true)) {
            wrong.incrementAndGet()
            System.err.println(s"[perfbench] check failed: ${q.aql} broker ${d.body.take(300)} " +
              s"aql $single sql $sql")
          }
        }
        wholeWatch.poll()

        val layers = trace.map { t =>
          val base = QueryClient.layers(t, client, memberWatches)
          val brokerQueries = math.max(1L, brokerWatch.delta("queries")).toDouble
          val perMember = memberWatches.map(w => Stats.mean(w.stats.map(_.wallMs)))
          val slowest = memberWatches.map(w => Stats.median(w.stats.map(_.wallMs))).max
          base ++ Map(
            "exec.jobs_per_query" -> t.work.jobs.get / brokerQueries,
            "exec.tasks_per_query" -> t.work.tasks.get / brokerQueries,
            "api.http_overhead_ms" -> (Stats.mean(directMs.asScala.toSeq) -
              Stats.mean(wholeWatch.stats.map(_.wallMs))),
            "api.rejected" -> (base("api.rejected") + brokerWatch.delta("rejected")),
            "api.errors" -> (base("api.errors") + brokerWatch.delta("errors")),
            "exec.broker.subqueries_per_query" ->
              memberWatches.map(_.delta("queries")).sum / brokerQueries,
            "exec.broker.member_wall_ms" ->
              Stats.mean(memberWatches.flatMap(_.stats.map(_.wallMs))),
            "exec.broker.member_skew" -> perMember.max / Stats.mean(perMember),
            "exec.broker.merge_overhead_ms" ->
              (Stats.median(ops.map(_.latencyMs)) - slowest))
        }.getOrElse(Map.empty)
        Phase(ops, elapsed, ops.size + checked.size, ops.count(!_.ok) + wrong.get,
          checked.size, layers)
      }
      def close(): Unit = {
        broker.stop(); whole.stop(); members.foreach(_.stop())
      }
    }
  }
}
