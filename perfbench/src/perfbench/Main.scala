package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (run through `perfbench/run.py`, which builds it).
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --self-test
  *   --archive-classes   (build step: touch every workload's code paths once)
  *
  * Untraced (`--trace 0`): set the workload up [[SetupRounds]] times
  * (reporting the median set-up time), drive the last set-up for
  * `seconds`, check the answers, and print the end-to-end metrics.
  * Traced (`--trace 1`): set up once, drive half the time untraced as the
  * reference, then half traced, and print the per-layer metrics with the
  * tracing overhead. The last stdout line is the result JSON; everything
  * else goes to stderr.
  */
object Main {
  val SetupRounds = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        if (argv.contains("--self-test")) SelfTest.run()
        else if (argv.contains("--archive-classes")) { archiveClasses(); 0 }
        else { run(parse(argv)); 0 }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] failed: $e")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workload.all.contains(w),
      s"unknown workload $w (${Workload.all.keys.toSeq.sorted.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1")
  }

  def session(workDir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.BenchSession.build(workDir.toString, cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Drop everything a closed set-up left cached in the session. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** JVM heap in use after a full collection: the least of a few
    * collections spaced out, so that Spark's asynchronous cleaner has
    * released what the last collection made unreachable.
    */
  def retainedHeapMb(): Double = (1 to 4).map { _ =>
    System.gc()
    Thread.sleep(250)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }.min

  /** Set every workload up once and drive it briefly, so the JVM that
    * records the class-data archive has loaded the classes runs use.
    */
  private def archiveClasses(): Unit = {
    val workDir = Paths.get(s"work-${ProcessHandle.current().pid()}").toAbsolutePath
    try {
      val spark = session(workDir)
      Workload.all.toSeq.sortBy(_._1).foreach { case (name, wl) =>
        val running = wl.setup(spark, 0L, workDir.resolve(name))
        running.phase(1.0, None)
        running.close()
        release(spark)
      }
      spark.stop()
    } finally deleteTree(workDir)
  }

  private def run(a: Args): Unit = {
    val workDir = Paths.get(s"work-${ProcessHandle.current().pid()}").toAbsolutePath
    Files.createDirectories(workDir)
    try {
      val spark = session(workDir)
      val wl = Workload.all(a.workload)
      val result =
        if (!a.trace) untraced(spark, wl, a, workDir)
        else traced(spark, wl, a, workDir, graft.Bench.canary())
      System.err.println(s"[perfbench] ${a.workload} seed=${a.seed} trace=${a.trace} " +
        s"gc ${Gc.totalMs} ms")
      spark.stop()
      println(Json.result(result.failed == 0 && result.checked > 0, result.attempted,
        result.failed, result.metrics))
    } finally deleteTree(workDir)
  }

  final case class Result(attempted: Int, failed: Int, checked: Int,
      metrics: Seq[(String, (String, Double))])

  private def untraced(spark: SparkSession, wl: Workload, a: Args, workDir: Path): Result = {
    val setupS = (0 until SetupRounds).map { r =>
      val t0 = System.nanoTime()
      val running = wl.setup(spark, a.seed, workDir.resolve(s"setup$r"))
      val s = (System.nanoTime() - t0) / 1e9
      (s, running)
    }
    setupS.init.foreach(_._2.close())
    release(spark)
    setupS.init.indices.foreach(r => deleteTree(workDir.resolve(s"setup$r")))
    val running = setupS.last._2
    val ph = running.phase(a.seconds, None)
    val heap = retainedHeapMb()
    running.close()
    val lat = ph.ops.map(_.latencyMs)
    System.err.println(f"[perfbench] ${ph.ops.size} ops in ${ph.elapsedS}%.1f s, " +
      s"${ph.checked} checks, ${ph.failed} failed; set-up ${setupS.map(_._1).mkString(", ")} s")
    Result(ph.attempted, ph.failed, ph.checked, Seq(
      "setup_s" -> ("s", Stats.median(setupS.map(_._1))),
      "op_p50_ms" -> ("ms", Stats.pct(lat, 50)),
      "op_p90_ms" -> ("ms", Stats.pct(lat, 90)),
      "ops_per_s" -> ("1/s", ph.ops.count(_.ok) / ph.elapsedS),
      "heap_retained_mb" -> ("MB", heap)))
  }

  def layerUnit(n: String): String =
    if (n.endsWith("_ms")) "ms"
    else if (n.endsWith("_s")) "s"
    else if (n.endsWith("_bytes")) "bytes"
    else if (n.endsWith("_pct")) "%"
    else if (n == "exec.broker.member_skew" || n == "ingest.write_amp" ||
      n == "exec.rows_scanned_per_returned" || n == "failed_frac") "ratio"
    else "count"

  private def traced(spark: SparkSession, wl: Workload, a: Args, workDir: Path,
      canaryStart: Double): Result = {
    val running = wl.setup(spark, a.seed, workDir.resolve("setup0"))
    val half = a.seconds / 2
    val ref = running.phase(half, None)
    val ctx = new TraceCtx(new Tracer, SparkWork.register(spark.sparkContext), spark.sparkContext)
    val gc0 = Gc.totalMs
    ctx.work.start()
    val tr = running.phase(half, Some(ctx))
    ctx.work.stop()
    val gcMs = Gc.totalMs - gc0
    running.close()

    val refLat = ref.ops.map(_.latencyMs)
    val ops = math.max(1, tr.ops.size).toDouble
    val attempted = ref.attempted + tr.attempted
    val failed = ref.failed + tr.failed
    val common = Map(
      "spark.task_run_ms" -> ctx.work.taskRunMs.get / ops,
      "spark.shuffle_write_bytes" -> ctx.work.shuffleWriteBytes.get / ops,
      "spark.spill_bytes" -> ctx.work.spillBytes.get / ops,
      "jvm.gc_ms" -> gcMs.toDouble,
      "host.canary_start_s" -> canaryStart,
      "host.canary_end_s" -> graft.Bench.canary(),
      "load.lag_ms" -> Stats.median(ref.ops.map(_.lagMs)),
      "load.samples" -> ref.ops.size.toDouble,
      "op_p99_ms" -> Stats.pct(refLat, 99),
      "failed_frac" -> failed.toDouble / math.max(1, attempted),
      // the traced half also replays layer calls, so it completes fewer
      // operations per second than the reference half
      "trace.overhead_pct" ->
        ((ref.ops.count(_.ok) / ref.elapsedS) / (tr.ops.count(_.ok) / tr.elapsedS) - 1) * 100)
    val values = Workload.layerMetrics.map(n =>
      n -> common.getOrElse(n, tr.layers.getOrElse(n, 0.0)))
    writeTrace(a, ctx.tracer, values)
    Result(attempted, failed, ref.checked + tr.checked,
      values.map { case (n, v) => n -> (layerUnit(n), v) })
  }

  /** Span log and the per-layer table, beside the run directory. */
  private def writeTrace(a: Args, tracer: Tracer, values: Seq[(String, Double)]): Unit = {
    val dir = Paths.get("traces").toAbsolutePath
    Files.createDirectories(dir)
    val stem = s"${a.workload}-seed${a.seed}"
    tracer.write(dir.resolve(s"$stem.spans.jsonl"))
    val selfMs = tracer.selfMs.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, xs) =>
      f"  span $n%-26s n=${xs.size}%5d  self mean ${Stats.mean(xs.map(_._2))}%10.2f ms" +
        f"  p50 ${Stats.median(xs.map(_._2))}%10.2f ms"
    }
    val table = (s"layer table: ${a.workload} seed ${a.seed}" +: selfMs) ++
      values.map { case (n, v) => f"  $n%-36s ${v}%14.3f ${layerUnit(n)}" }
    Files.write(dir.resolve(s"$stem.layers.txt"), table.asJava)
    table.foreach(System.err.println)
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, (String, Double))]): String = {
    val ms = metrics.map { case (n, (unit, v)) =>
      s""""$n": {"value": ${num(v)}, "unit": "$unit"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
