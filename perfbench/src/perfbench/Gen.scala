package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Every input of every workload is a pure
  * function of the seed: the fact table, the dimension table, the query
  * stream, the upsert stream and the curation corpus. Row `i` of the fact
  * table is computed by [[event]] alone, so the benchmark can recompute any
  * row (the ingest ledger does) without reading it back.
  */
object Gen {
  /** 2024-01-01T00:00:00Z: day 0 of the fact table. */
  val Day0 = 1704067200L
  val Days = 30
  val DaySec = 86400L
  val EventTypes = Array("view", "click", "scroll", "purchase", "signup")
  private val TypeCum = Array(0.50, 0.75, 0.87, 0.95, 1.0)
  val Countries = Array("us", "de", "br", "in", "jp", "fr", "gb", "mx", "ca", "au", "kr", "ng")
  val Tiers = Array("free", "pro", "enterprise")

  /** Fact and dimension table sizes. */
  final case class Sizes(rows: Long, users: Int)
  /** The broker workload's table: about 5k rows per day. */
  val Served = Sizes(rows = 150000L, users = 20000)
  /** The ingest workload's table: a batch ack re-derives the whole table,
    * so it is smaller, to fit enough batches in one run.
    */
  val Ingested = Sizes(rows = 100000L, users = 20000)

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1), a pure function of (seed, i, salt). */
  def unit(seed: Long, i: Long, salt: Long): Double =
    (mix(mix(seed ^ 0x632BE59BD9B4E019L) ^ mix(i * 0x9E37L + salt)) >>> 11) *
      (1.0 / (1L << 53))

  /** Zipf-like draw over [0, n) with exponent `s` (continuous inverse CDF). */
  def zipf(u: Double, n: Int, s: Double): Long = {
    val a = 1 - s
    val x = math.pow((math.pow(n + 1.0, a) - 1) * u + 1, 1 / a)
    math.min(n - 1L, math.max(0L, (x - 1).toLong))
  }

  def eventType(u: Double): String = EventTypes(TypeCum.indexWhere(u < _))

  final case class Event(eventId: Long, ts: Long, userId: Long,
      eventType: String, value: Double)

  /** Fact row `i` (0-based): ids ascend with time, so the highest ids are
    * the most recent days. `value` is integral, so sums are exact doubles
    * in any summation order.
    */
  def event(seed: Long, sz: Sizes, i: Long): Event = {
    val ts = Day0 + ((i + unit(seed, i, 1)) * Days * DaySec / sz.rows).toLong
    val v = unit(seed, i, 4)
    Event(i + 1, ts, zipf(unit(seed, i, 2), sz.users, 1.1),
      eventType(unit(seed, i, 3)), (1 + (v * v * 1000).toLong).toDouble)
  }

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def props(e: Event): String = s"p${e.eventId % 7}"

  def eventsDf(spark: SparkSession, seed: Long, sz: Sizes): DataFrame = {
    val slices = spark.sparkContext.defaultParallelism
    val rdd = spark.sparkContext.range(0L, sz.rows, 1L, slices).map { i =>
      val e = event(seed, sz, i)
      Row(e.eventId, new java.sql.Timestamp(e.ts * 1000L), e.userId,
        e.eventType, e.value, props(e))
    }
    spark.createDataFrame(rdd, EventSchema)
  }

  def usersDf(spark: SparkSession, seed: Long, sz: Sizes): DataFrame = {
    import spark.implicits._
    (0 until sz.users).map { u =>
      (u.toLong, Countries((unit(seed, u, 11) * Countries.length).toInt),
        Tiers((unit(seed, u, 12) * Tiers.length).toInt))
    }.toDF("user_id", "country", "tier")
  }

  // ---- query stream ------------------------------------------------------

  /** One generated request: a single query, as an AQL document and as the
    * equivalent statement of the SQL front end.
    */
  final case class Query(idx: Int, kind: String, from: Long, to: Long, aql: String,
      sql: String) {
    def aqlRequest: String = s"""{"queries": [$aql]}"""
    def sqlRequest: String =
      s"""{"queries": ["${sql.replace("\\", "\\\\").replace("\"", "\\\"")}"]}"""
    def wide: Boolean = to - from == Days * DaySec
  }

  val Kinds: Seq[String] = Seq("count_by_type", "sum_by_day", "avg_by_type",
    "hll_by_type", "count_by_hour", "expr_dim", "filtered", "join_country",
    "topk_rows")

  /** The seeded query stream. Proportions are stratified so that every
    * seed sends the same mix: each run of 9 queries holds every kind once,
    * and each run of 10 holds 8 narrow windows (1-3 days ending on a
    * recent day) and 2 full-month ones, in seeded order.
    */
  def queries(seed: Long, n: Int): IndexedSeq[Query] = {
    val r = new scala.util.Random(mix(seed ^ 0x5EEDL))
    val kinds = Iterator.continually(r.shuffle(Kinds)).flatten.take(n).toIndexedSeq
    val wide = Iterator.continually(r.shuffle(Seq.fill(8)(false) ++ Seq.fill(2)(true)))
      .flatten.take(n).toIndexedSeq
    (0 until n).map { i =>
      val (from, to) =
        if (!wide(i)) {
          val len = 1 + r.nextInt(3)
          var back = 0
          while (r.nextDouble() < 0.75 && back < Days - len) back += 1
          val end = Days - back
          (Day0 + (end - len) * DaySec, Day0 + end * DaySec)
        } else (Day0, Day0 + Days * DaySec)
      buildQuery(i, kinds(i), from, to)
    }
  }

  private def buildQuery(i: Int, kind: String, from: Long, to: Long): Query = {
    val now = Day0 + Days * DaySec
    def aql(measure: String, dims: String, extra: String = ""): String =
      s"""{"table": "events", "measures": [{"alias": "m", "sqlExpression": "$measure"}],
         |"dimensions": $dims, "timeFilter": {"column": "ts", "from": "$from", "to": "$to"},
         |"now": $now$extra}""".stripMargin.replace("\n", " ")
    val where = s"""aql_time_filter(ts, "$from", "$to", UTC) AND aql_now(ts, $now)"""
    def sql(select: String, tail: String, filter: String = "", join: String = ""): String =
      s"SELECT $select FROM events$join WHERE $filter$where $tail"
    val byType = """[{"alias": "et", "sqlExpression": "event_type"}]"""
    val byDay = """[{"alias": "d", "sqlExpression": "ts", "timeBucketizer": "day"}]"""
    val dayGroup = """GROUP BY aql_time_bucket_day(ts, "", UTC)"""
    val (a, q) = kind match {
      case "count_by_type" => (aql("count(*)", byType),
        sql("count(*) AS m, event_type AS et", "GROUP BY event_type"))
      case "sum_by_day" => (aql("sum(value)", byDay), sql("sum(value) AS m, ts AS d", dayGroup))
      case "avg_by_type" => (aql("avg(value)", byType),
        sql("avg(value) AS m, event_type AS et", "GROUP BY event_type"))
      case "hll_by_type" => (aql("countdistincthll(user_id)", byType),
        sql("countdistincthll(user_id) AS m, event_type AS et", "GROUP BY event_type"))
      case "count_by_hour" => (aql("count(*)",
        """[{"alias": "h", "sqlExpression": "ts", "timeBucketizer": "hour"}]"""),
        sql("count(*) AS m, ts AS h", """GROUP BY aql_time_bucket_hour(ts, "", UTC)"""))
      case "expr_dim" => (aql("sum(value)", """[{"alias": "b", "sqlExpression": "user_id % 10"}]"""),
        sql("sum(value) AS m, user_id % 10 AS b", "GROUP BY user_id % 10"))
      case "filtered" =>
        (aql("sum(value)", byDay, """, "rowFilters": ["event_type = 'purchase'"]"""),
          sql("sum(value) AS m, ts AS d", dayGroup, filter = "event_type = 'purchase' AND "))
      case "join_country" => (aql("count(*)",
        """[{"alias": "c", "sqlExpression": "users.country"}]""",
        """, "joins": [{"table": "users", "conditions": ["events.user_id = users.user_id"]}]"""),
        sql("count(*) AS m, users.country AS c", "GROUP BY users.country",
          join = " JOIN users ON events.user_id = users.user_id"))
      case "topk_rows" => (aql("1",
        """[{"alias": "eid", "sqlExpression": "event_id"}, {"alias": "v", "sqlExpression": "value"}]""",
        """, "limit": 20, "sorts": [{"name": "v", "order": "desc"}, {"name": "eid", "order": "asc"}]"""),
        sql("event_id AS eid, value AS v", "ORDER BY v DESC, eid ASC LIMIT 20"))
    }
    Query(i, kind, from, to, a, q)
  }

  // ---- upsert stream -----------------------------------------------------

  final case class Upserted(eventId: Long, ts: Long, userId: Long,
      eventType: String, value: Double)

  /** Batch `b` of the upsert stream: `rows` rows with distinct PKs, about
    * half of them updates of existing rows from the last three days, the
    * rest inserts of new PKs timed within the last three days. An update
    * rewrites a row's user, type and value but keeps its event time: a
    * fact row's time is part of its identity in the day-partitioned
    * archive (Backfill merges per `(day, pk)`).
    */
  def upsertBatch(seed: Long, sz: Sizes, b: Int, rows: Int): IndexedSeq[Upserted] = {
    val r = new java.util.SplittableRandom(mix(seed ^ mix(0xB47CL + b)))
    val recent = sz.rows / 10 // the last 3 of 30 days
    val seen = scala.collection.mutable.HashSet.empty[Long]
    (0 until rows).map { k =>
      val (pk, ts) =
        if (r.nextBoolean()) {
          var p = sz.rows - r.nextLong(recent)
          while (seen(p)) p = sz.rows - r.nextLong(recent)
          (p, event(seed, sz, p - 1).ts)
        } else (sz.rows + 1 + b.toLong * rows + k,
          Day0 + (Days - 3) * DaySec + r.nextLong(3 * DaySec))
      seen += pk
      Upserted(pk, ts, zipf(r.nextDouble(), sz.users, 1.1), eventType(r.nextDouble()),
        (1 + r.nextInt(1000)).toDouble)
    }
  }

  private val IsoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  /** One JSON object per row, as `POST /data/{table}` takes them. */
  def upsertRows(rows: Seq[Upserted]): Seq[String] = rows.map { u =>
    s"""{"event_id": ${u.eventId}, "ts": "${IsoFmt.format(java.time.Instant.ofEpochSecond(u.ts))}", """ +
      s""""user_id": ${u.userId}, "event_type": "${u.eventType}", "value": ${u.value}, "props": "u"}"""
  }

  def upsertJson(rows: Seq[Upserted]): String = upsertRows(rows).mkString("[", ",\n", "]")

  // ---- curation corpus ---------------------------------------------------

  final case class Doc(id: Long, text: String, source: String)
  val Sources = Array("web", "books", "code", "news", "forum")
  /** Corpus shape: originals, then stated shares of exact copies and of
    * near-duplicates (an original with one word replaced and a suffix).
    * Copies and near-duplicates come from disjoint, distinct originals, so
    * every seed plants the same number of duplicate groups, each of two.
    */
  val CorpusDocs = 3000
  val ExactCopyShare = 0.10
  val NearDupShare = 0.10

  def corpus(seed: Long, n: Int = CorpusDocs): IndexedSeq[Doc] = {
    val r = new java.util.SplittableRandom(mix(seed ^ 0xC0C0L))
    val nCopies = (n * ExactCopyShare).toInt
    val nNear = (n * NearDupShare).toInt
    val nOrig = n - nCopies - nNear
    val orig = (0 until nOrig).map { i =>
      val len = 24 + r.nextInt(60)
      val words = (0 until len).map(_ => "w" + zipf(r.nextDouble(), 4000, 1.05))
      Doc(i + 1L, words.mkString(" "), Sources(r.nextInt(Sources.length)))
    }
    val sources = new scala.util.Random(r.nextLong()).shuffle(orig).take(nCopies + nNear)
    val copies = sources.take(nCopies).zipWithIndex.map { case (o, k) =>
      Doc(nOrig + k + 1L, o.text, o.source)
    }
    val near = sources.drop(nCopies).zipWithIndex.map { case (o, k) =>
      val ws = o.text.split(" ")
      ws(r.nextInt(ws.length)) = "x" + r.nextInt(100000)
      Doc(nOrig + nCopies + k + 1L, ws.mkString(" ") + " zz yy xx", o.source)
    }
    orig ++ copies ++ near
  }

  // ---- input hash --------------------------------------------------------

  /** One hash over every input a seed produces (tables, query stream,
    * upsert stream, corpus) — the determinism self-test compares it.
    */
  def inputHash(seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0L
    while (i < Served.rows) {
      val e = event(seed, Served, i)
      h = mix(h ^ mix(e.ts ^ mix(e.userId ^ mix(e.value.toLong ^ e.eventType.hashCode))))
      i += 1
    }
    put(h.toString)
    (0 until Served.users).foreach(u =>
      put(s"${(unit(seed, u, 11) * 1000).toInt}/${(unit(seed, u, 12) * 1000).toInt}"))
    queries(seed, 500).foreach(q => put(q.aql + q.sql))
    (0 until 20).foreach(b => put(upsertJson(upsertBatch(seed, Ingested, b, 500))))
    corpus(seed).foreach(d => put(s"${d.id}|${d.source}|${d.text}"))
    md.digest().map(b => f"$b%02x").mkString
  }
}
