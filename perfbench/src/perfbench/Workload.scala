package perfbench

import java.nio.file.Path

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** What one measured phase produced: the timed primary operations, the
  * operation and answer-check counts, and — in a traced phase — the
  * workload's own per-layer metrics.
  */
final case class Phase(ops: Seq[Done], elapsedS: Double, attempted: Int,
    failed: Int, checked: Int, layers: Map[String, Double] = Map.empty)

/** Instruments handed to a traced phase. */
final class TraceCtx(val tracer: Tracer, val work: SparkWork, val sc: SparkContext)

/** A workload whose set-up finished: measured phase by phase, then closed. */
trait Running extends AutoCloseable {
  /** Drive the workload for `seconds`, then run its answer checks. */
  def phase(seconds: Double, trace: Option[TraceCtx]): Phase
}

trait Workload {
  /** Generate the inputs under `dir`, start the system, warm it up. */
  def setup(spark: SparkSession, seed: Long, dir: Path): Running
}

object Workload {
  val all: Map[String, Workload] = Map(
    "ingest_mix" -> IngestMix,
    "broker_fanout" -> BrokerFanout,
    "curate_batch" -> CurateBatch)

  /** Every per-layer metric name, in output order. A layer a workload
    * leaves idle reports 0.
    */
  val layerMetrics: Seq[String] = Seq(
    "aql.parse_ms", "aql.compile_ms", "exec.plan_ms", "exec.execute_ms",
    "exec.shape_ms", "exec.jobs_per_query", "exec.tasks_per_query",
    "exec.files_read_per_query", "exec.rows_scanned_per_returned",
    "api.http_overhead_ms", "api.rejected", "api.errors",
    "exec.broker.subqueries_per_query", "exec.broker.member_wall_ms",
    "exec.broker.member_skew", "exec.broker.merge_overhead_ms",
    "ingest.upsert_ms", "ingest.journal_append_ms", "ingest.overlay_rows",
    "ingest.drain_ms", "ingest.drains", "ingest.write_amp",
    "ingest.archive_files",
    "operators.exact_dedup_ms", "operators.near_dedup_ms",
    "operators.decontam_tokenize_ms", "operators.mix_ms", "operators.pack_ms",
    "operators.rows_out.exact_dedup", "operators.rows_out.near_dedup",
    "operators.rows_out.decontam_tokenize", "operators.rows_out.mix",
    "operators.rows_out.pack",
    "spark.task_run_ms", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "jvm.gc_ms", "host.canary_start_s", "host.canary_end_s", "load.lag_ms",
    "load.samples",
    "op_p99_ms", "failed_frac", "trace.overhead_pct")
}
