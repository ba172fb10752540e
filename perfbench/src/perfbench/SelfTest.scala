package perfbench

import java.nio.file.{Files, Paths}

import graft.api.GraftServer

/** The benchmark's own test (`python3 perfbench/run.py --self-test`):
  *  - the same seed gives the same input hash, another seed another one;
  *  - the answer checks pass on real answers and catch a corrupted one:
  *    the reference answers, the broker equality comparison and the
  *    ingest ledger;
  *  - each query's SQL statement gets the answer of its AQL document.
  */
object SelfTest {
  def run(): Int = {
    var failures = 0
    def expect(name: String, ok: Boolean): Unit = {
      System.err.println(s"[self-test] ${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += 1
    }
    val h1 = Gen.inputHash(1)
    expect("same seed, same input hash", h1 == Gen.inputHash(1))
    expect("different seed, different input hash", h1 != Gen.inputHash(2))

    val workDir = Paths.get(s"work-${ProcessHandle.current().pid()}").toAbsolutePath
    Files.createDirectories(workDir)
    try {
      val spark = Main.session(workDir)
      val data = new ServedData(spark, 7L, workDir.resolve("data"), Gen.Served)
      val server = new GraftServer(data.catalog(), spark)
      server.start()
      val url = s"http://localhost:${server.boundPort}"
      try {
        val stream = Gen.queries(7L, 400)
        Gen.Kinds.foreach { k =>
          val q = stream.find(_.kind == k).get
          val (code, body) = Http.post(s"$url/query/aql", q.aqlRequest)
          val got = Check.result(body).map(Check.flatten).getOrElse(Map.empty)
          val exp = Check.expected(data.events, data.users, q)
          val hll = k == "hll_by_type"
          expect(s"$k: served answer matches the reference",
            code == 200 && got.nonEmpty && Check.same(got, exp, hll))
          val sql = Check.result(Http.post(s"$url/query/sql", q.sqlRequest)._2).map(Check.flatten)
          expect(s"$k: SQL statement answers as the AQL document", sql.contains(got))
          expect(s"$k: corrupted answer is caught", !Check.same(corrupt(got), exp, hll))
          expect(s"$k: broker equality catches a corrupted answer",
            Check.same(got, got) && !Check.same(corrupt(got), got))
        }
        val ledger = new Ledger(7L, data.sz)
        val to = Gen.Day0 + Gen.Days * Gen.DaySec
        val req =
          s"""{"queries": [{"table": "events", "measures": [{"alias": "m", "sqlExpression": "count(*)"}],
             | "dimensions": [{"alias": "d", "sqlExpression": "ts", "timeBucketizer": "day"}],
             | "timeFilter": {"column": "ts", "from": "${Gen.Day0}", "to": "$to"}, "now": $to}]}""".stripMargin
        val served = Check.result(Http.post(s"$url/query/aql", req)._2).map(Check.flatten)
          .getOrElse(Map.empty)
        expect("ledger matches the served per-day counts", Check.same(served, ledger.counts))
        ledger.apply(Seq(Gen.Upserted(Gen.Served.rows + 99, Gen.Day0 + 5, 1, "view", 1.0)))
        expect("a lost write is caught by the ledger", !Check.same(served, ledger.counts))
      } finally server.stop()
      spark.stop()
    } finally Main.deleteTree(workDir)
    System.err.println(s"[self-test] $failures failure(s)")
    if (failures == 0) 0 else 1
  }

  /** The answer with one value or one row changed. */
  private def corrupt(m: Map[String, Double]): Map[String, Double] = {
    val (k, v) = m.toSeq.minBy(_._1)
    if (k.startsWith("#")) m - k + (k + "0" -> v) else m.updated(k, v * 1.5 + 1)
  }
}
