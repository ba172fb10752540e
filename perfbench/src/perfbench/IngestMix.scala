package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.monotonically_increasing_id

import graft.api.GraftServer

/** The generator's record of the last-written row per PK, folded into
  * per-day `count(*)` and `sum(value)` — what the server must serve after
  * every acknowledged batch.
  */
final class Ledger(seed: Long, sz: Gen.Sizes) {
  private val count = new Array[Long](Gen.Days)
  private val sum = new Array[Double](Gen.Days)
  private val written = mutable.HashMap.empty[Long, (Int, Double)]
  private def dayOf(ts: Long): Int = ((ts - Gen.Day0) / Gen.DaySec).toInt

  (0L until sz.rows).foreach { i =>
    val e = Gen.event(seed, sz, i)
    count(dayOf(e.ts)) += 1
    sum(dayOf(e.ts)) += e.value
  }

  private def current(pk: Long): Option[(Int, Double)] =
    written.get(pk).orElse(Option.when(pk >= 1 && pk <= sz.rows) {
      val e = Gen.event(seed, sz, pk - 1)
      (dayOf(e.ts), e.value)
    })

  def apply(rows: Seq[Gen.Upserted]): Unit = rows.foreach { u =>
    current(u.eventId).foreach { case (d, v) => count(d) -= 1; sum(d) -= v }
    val d = dayOf(u.ts)
    count(d) += 1
    sum(d) += u.value
    written(u.eventId) = (d, u.value)
  }

  def total: Long = count.sum

  private def key(d: Int): String =
    java.time.LocalDate.ofEpochDay(Gen.Day0 / Gen.DaySec + d).toString

  def counts: Map[String, Double] =
    count.indices.filter(count(_) > 0).map(d => key(d) -> count(d).toDouble).toMap
  def sums: Map[String, Double] =
    count.indices.filter(count(_) > 0).map(d => key(d) -> sum(d)).toMap
}

/** The served table and one server with the journal on, driven by one
  * producer that sends the next upsert batch as soon as the previous one
  * is acknowledged, and drains every [[DrainEvery]] batches. The timed
  * operation is the batch, from send to ack; drains count against the
  * batch rate. After every drain and at the end, the served per-day
  * `count(*)` and `sum(value)` must equal the [[Ledger]].
  *
  * No queries run beside the writes: on this code a query compiled just
  * before the first ingest after a drain fails (`UNRESOLVED_COLUMN day` —
  * the server flags the table day-partitioned at compile time and loads
  * the day-less live overlay at scan time), so a read stream would make
  * operations fail.
  */
object IngestMix extends Workload {
  val BatchRows = 500
  /** The first batch after a drain acks slower than the rest. Draining
    * every 3 batches makes them a third of the samples, so that p50 lies
    * well inside the fast group and p90 well inside the slow one; at a
    * tenth or a fifth, p90 of a run's ~12 batches falls on the boundary
    * and flips between the groups from run to run.
    */
  val DrainEvery = 3

  private def ledgerRequest: String = {
    val to = Gen.Day0 + Gen.Days * Gen.DaySec
    def q(m: String) =
      s"""{"table": "events", "measures": [{"alias": "m", "sqlExpression": "$m"}],
         | "dimensions": [{"alias": "d", "sqlExpression": "ts", "timeBucketizer": "day"}],
         | "timeFilter": {"column": "ts", "from": "${Gen.Day0}", "to": "$to"}, "now": $to}""".stripMargin
    s"""{"queries": [${q("count(*)")}, ${q("sum(value)")}]}"""
  }

  def setup(spark: SparkSession, seed: Long, dir: Path): Running = {
    val data = new ServedData(spark, seed, dir, Gen.Ingested)
    val servedDir = dir.resolve("served").toString
    val server = new GraftServer(data.catalog(), spark,
      journalDir = Some(dir.resolve("journal").toString))
    server.start()
    val url = s"http://localhost:${server.boundPort}"
    val ledger = new Ledger(seed, data.sz)
    // batch 0 warms the ingest path; the first drain writes the served
    // archive, so the timed drains are incremental (Backfill) ones
    val warm = Gen.upsertBatch(seed, data.sz, 0, BatchRows)
    require(Http.post(s"$url/data/events", Gen.upsertJson(warm))._1 == 200, "warm-up ingest failed")
    ledger.apply(warm)
    server.drain("events", servedDir)
    new IngestRunning(spark, seed, data, server, url, servedDir, ledger, dir)
  }

  final class IngestRunning(spark: SparkSession, seed: Long, data: ServedData,
      server: GraftServer, url: String, servedDir: String, ledger: Ledger,
      dir: Path) extends Running {
    private var nextBatch = 1
    private var sinceDrain = 0
    private var payloadSinceDrain = 0L
    private lazy val replayJournal = {
      Files.createDirectories(dir.resolve("replay-journal"))
      new graft.ingest.UpsertJournal(dir.resolve("replay-journal").toString)
    }

    /** Served per-day count and sum equal the ledger's. */
    private def ledgerMatches(): Boolean = {
      val (code, body) = Http.post(s"$url/query/aql", ledgerRequest)
      val ok = code == 200 && (for {
        c <- Check.result(body, 0)
        s <- Check.result(body, 1)
      } yield Check.same(Check.flatten(c), ledger.counts) &&
        Check.same(Check.flatten(s), ledger.sums)).contains(true)
      if (!ok) {
        val got = Check.result(body, 0).map(Check.flatten).getOrElse(Map.empty)
        val diff = (got.keySet ++ ledger.counts.keySet).toSeq.sorted
          .filter(d => got.get(d) != ledger.counts.get(d)).take(4)
          .map(d => s"$d served ${got.get(d)} ledger ${ledger.counts.get(d)}")
        System.err.println(s"[perfbench] ledger mismatch ($code): ${diff.mkString("; ")} ${body.take(200)}")
      }
      ok
    }

    private def files(): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(servedDir)
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally s.close()
    }

    def phase(seconds: Double, trace: Option[TraceCtx]): Phase = {
      val drainMs = mutable.ArrayBuffer.empty[Double]
      val writeAmp = mutable.ArrayBuffer.empty[Double]
      val archiveFiles = mutable.ArrayBuffer.empty[Double]
      val overlayRows = mutable.ArrayBuffer.empty[Double]
      var checks = 0
      var wrong = 0

      def drain(): Unit = {
        val before = trace.map(_ => files())
        val t0 = System.nanoTime()
        trace.fold(server.drain("events", servedDir))(t =>
          t.tracer.span("ingest.drain")(server.drain("events", servedDir)))
        drainMs += (System.nanoTime() - t0) / 1e6
        before.foreach { b =>
          val after = files()
          val written = after.collect { case (p, sm) if !b.get(p).contains(sm) => sm._1 }.sum
          writeAmp += written.toDouble / math.max(1L, payloadSinceDrain)
          archiveFiles += after.size
        }
        payloadSinceDrain = 0
        sinceDrain = 0
        check()
      }

      // the check's query is the benchmark's work, not the program's
      def check(): Unit = {
        checks += 1
        if (!trace.fold(ledgerMatches())(_.work.skipping(ledgerMatches()))) wrong += 1
      }

      def sendBatch(ready: Long): Done = {
        val b = nextBatch
        nextBatch += 1
        val rows = Gen.upsertBatch(seed, data.sz, b, BatchRows)
        val json = Gen.upsertJson(rows)
        val t0 = System.nanoTime()
        val (code, resp) = trace.fold(Http.post(s"$url/data/events", json))(t =>
          t.tracer.span("api.ingest")(Http.post(s"$url/data/events", json)))
        val t1 = System.nanoTime()
        if (code == 200) {
          ledger.apply(rows)
          payloadSinceDrain += json.length
        } else System.err.println(s"[perfbench] ingest batch $b failed: $code ${resp.take(300)}")
        overlayRows += ledger.total.toDouble
        trace.foreach(t => replayIngest(t, rows, json, b))
        sinceDrain += 1
        if (sinceDrain == DrainEvery) drain()
        Done(b, "ingest", ready, t0, t1, code == 200, "")
      }

      val start = System.nanoTime()
      val ops = Load.closed(1, seconds, () => 0)((_, ready) => sendBatch(ready))
      val elapsed = (System.nanoTime() - start) / 1e9
      trace.foreach(_.work.stop())
      // drain what the window left in the overlay, so every phase ends in
      // the same state; the final state must match the ledger too
      if (sinceDrain > 0) drain() else check()

      val layers = trace.map { t =>
        val self = t.tracer.meanSelfMs
        Map(
          "ingest.upsert_ms" -> self.getOrElse("ingest.upsert", 0.0),
          "ingest.journal_append_ms" -> self.getOrElse("ingest.journal_append", 0.0),
          "ingest.overlay_rows" -> Stats.mean(overlayRows.toSeq),
          "ingest.drain_ms" -> Stats.mean(drainMs.toSeq),
          "ingest.drains" -> drainMs.size.toDouble,
          "ingest.write_amp" -> Stats.mean(writeAmp.toSeq),
          "ingest.archive_files" -> Stats.mean(archiveFiles.toSeq))
      }.getOrElse(Map.empty)
      Phase(ops, elapsed, ops.size + checks, ops.count(!_.ok) + wrong, checks, layers)
    }

    /** Traced only: the batch's two write-path calls replayed in-process
      * on inputs of the same size — `Upsert.apply` + `localCheckpoint` over
      * the served archive, and a journal append of the same payload.
      */
    private def replayIngest(t: TraceCtx, rows: Seq[Gen.Upserted], json: String,
        b: Int): Unit = {
      if (b % 2 == 0) SparkWork.replay(t.sc) {
        import spark.implicits._
        t.tracer.span("ingest.upsert") {
          val existing = spark.read.parquet(servedDir).drop(graft.ingest.Archiver.DayCol)
          val batch = spark.read.schema(existing.schema)
            .json(Gen.upsertRows(rows).toDS().coalesce(1))
            .withColumn("__seq", monotonically_increasing_id())
          val up = graft.ingest.Upsert(existing, batch, Seq("event_id"), "__seq")
            .localCheckpoint(true)
          graft.operators.Staged.releaseCheckpoint(up)
        }
      }
      t.tracer.span("ingest.journal_append")(replayJournal.append("events",
        graft.ingest.UpsertJournal.KindJson, json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      replayJournal.truncate("events")
    }

    def close(): Unit = server.stop()
  }
}
