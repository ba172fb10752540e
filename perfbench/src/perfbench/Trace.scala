package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Order statistics over latency samples. */
object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]; NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toArray
      val rank = p / 100.0 * (s.length - 1)
      val lo = rank.floor.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** One traced interval. Spans of one request share `requestId`; `parent`
  * is the id of the span that caused this one (0 for a request's root).
  */
final case class Span(id: Long, parent: Long, requestId: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder, written out only when the run ends. Spans are
  * recorded around the calls the benchmark itself makes into a layer; the
  * program under test is not instrumented.
  */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] // (requestId, spanId)

  def newRequest(): Long = ids.incrementAndGet()

  /** Run `f` as a span named `name`: a child of the thread's open span, or
    * the root of `requestId` when none is open.
    */
  def span[T](name: String, requestId: Long = 0L)(f: => T): T = {
    val outer = current.get()
    val req = if (outer != null) outer._1 else if (requestId != 0) requestId else newRequest()
    val id = ids.incrementAndGet()
    current.set((req, id))
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, if (outer != null) outer._2 else 0L, req, name, t0, System.nanoTime()))
      current.set(outer)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span: its duration minus the part of it that its
    * children cover (children of one span never overlap here: each
    * request's layer calls run on one thread).
    */
  def selfMs: Seq[(String, Double)] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val covered = byParent.getOrElse(s.id, Nil).map(c =>
        math.max(0L, math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))).sum
      s.name -> (s.endNs - s.startNs - covered) / 1e6
    }
  }

  /** Mean self time per span name. */
  def meanSelfMs: Map[String, Double] =
    selfMs.groupBy(_._1).map { case (n, xs) => n -> Stats.mean(xs.map(_._2)) }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"request":${s.requestId},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark listener counting the program's work in a traced phase. A job
  * counts when it was submitted inside the phase window ([[start]] to
  * [[stop]]), outside every [[skipping]] window, and not from a benchmark
  * thread holding the [[SparkWork.ReplayProp]] local property (its
  * in-process layer replays); a task counts when its stage belongs to a
  * counted job. Windows are compared with the jobs' submission times, so
  * events the listener bus delivers late are still attributed correctly;
  * the benchmark's own probes and answer checks stay out of the counts.
  */
final class SparkWork extends SparkListener {
  @volatile private var from = Long.MaxValue
  @volatile private var until = Long.MaxValue
  private val skipped = new ConcurrentLinkedQueue[Array[Long]]()
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val countedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  def start(): Unit = from = System.currentTimeMillis()
  /** End the phase window; later calls keep the first end. */
  def stop(): Unit = if (until == Long.MaxValue) until = System.currentTimeMillis()

  /** Run `f` (a benchmark probe or check that makes the program submit
    * jobs) without counting the jobs submitted meanwhile. Only for calls
    * no program work overlaps.
    */
  def skipping[T](f: => T): T = {
    val w = Array(System.currentTimeMillis(), Long.MaxValue)
    skipped.add(w)
    try f finally w(1) = System.currentTimeMillis()
  }

  private def isReplay(props: java.util.Properties): Boolean =
    props != null && props.getProperty(SparkWork.ReplayProp) != null

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.time >= from && e.time <= until && !isReplay(e.properties) &&
        !skipped.asScala.exists(w => e.time >= w(0) && e.time <= w(1))) {
      jobs.incrementAndGet()
      e.stageIds.foreach(countedStages.add)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (countedStages.contains(e.stageId)) {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
}

object SparkWork {
  val ReplayProp = "perfbench.replay"

  def register(sc: SparkContext): SparkWork = {
    val l = new SparkWork
    sc.addSparkListener(l)
    l
  }

  /** Run `f` with this thread's jobs marked as benchmark replays. */
  def replay[T](sc: SparkContext)(f: => T): T = {
    sc.setLocalProperty(ReplayProp, "1")
    try f finally sc.setLocalProperty(ReplayProp, null)
  }
}

/** Time already spent in garbage collection by this JVM. */
object Gc {
  def totalMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
