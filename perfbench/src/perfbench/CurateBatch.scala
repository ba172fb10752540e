package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Packing, Pipeline, Sampling, Staged, TextOps}

/** `Pipeline.curate` run pass after pass over a seeded corpus, with the
  * decontamination set and budgets shaped like the `q_pipeline_e2e` gate.
  * The timed operation is one full pass, output collected.
  */
object CurateBatch extends Workload {
  val MinhashThreshold = 0.35
  val DecontamN = 8
  /** Originals whose 8-grams form the held-out evaluation set. */
  val DecontamDocs = 20
  /** Per-source token budget: under half of what each source holds. */
  val BudgetTokens = 16000L
  val PackBudget = 128
  /** Sampling is a hash threshold, so a source lands near its budget,
    * not under it; the check allows this much above.
    */
  val BudgetSlack = 1.25

  def setup(spark: SparkSession, seed: Long, dir: Path): Running = {
    import spark.implicits._
    val corpus = Gen.corpus(seed)
    val path = dir.resolve("corpus").toString
    corpus.map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source")
      .write.parquet(path)
    val docs = spark.read.parquet(path)
    val bench = docs.where(col("doc_id") <= DecontamDocs)
    val texts = corpus.map(d => d.id -> d.text).toMap
    def pass(): Array[org.apache.spark.sql.Row] =
      Pipeline.curate(docs, "doc_id", "text", "source", MinhashThreshold, bench,
        DecontamN, BudgetTokens, PackBudget).orderBy("doc_id").collect()
    val reference = pass() // warm-up, and the answer later passes must repeat

    new Running {
      private val stageMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      private val stageRows = mutable.Map.empty[String, Long]

      def phase(seconds: Double, trace: Option[TraceCtx]): Phase = {
        val ops = mutable.ArrayBuffer.empty[Done]
        var changed = 0
        val t0 = System.nanoTime()
        val end = t0 + (seconds * 1e9).toLong
        var i = 0
        while (System.nanoTime() < end || ops.isEmpty) {
          val s = System.nanoTime()
          val out = trace.fold(pass())(t => t.tracer.span("operators.curate")(pass()))
          val e = System.nanoTime()
          val same = out.sameElements(reference)
          if (!same) changed += 1
          ops += Done(i, "curate", s, s, e, same, "")
          trace.foreach(t => staged(t, docs, bench, stageMs, stageRows))
          i += 1
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // survivors have pairwise distinct texts; each source stays
        // within its token budget
        val survivors = reference.map(_.getAs[Long]("doc_id"))
        val distinct = survivors.map(texts).distinct.length == survivors.length
        val perSource = reference.groupBy(_.getAs[String]("source"))
          .map { case (s, rs) => s -> rs.map(_.getAs[Long]("n_tokens")).sum }
        val inBudget = perSource.values.forall(_ <= BudgetTokens * BudgetSlack)
        val wrong = Seq(!distinct, !inBudget).count(identity)
        val layers = trace.map { _ =>
          stageMs.map { case (s, xs) => s"operators.${s}_ms" -> Stats.mean(xs.toSeq) }.toMap ++
            stageRows.map { case (s, n) => s"operators.rows_out.$s" -> n.toDouble }
        }.getOrElse(Map.empty)
        Phase(ops.toSeq, elapsed, ops.size + 2, changed + wrong, 2, layers)
      }
      def close(): Unit = ()
    }
  }

  /** Traced only: the pipeline's stages as separate public operator calls,
    * each fed the previous stage's staged output, one span per stage.
    */
  private def staged(t: TraceCtx, docs: DataFrame, bench: DataFrame,
      stageMs: mutable.Map[String, mutable.ArrayBuffer[Double]],
      stageRows: mutable.Map[String, Long]): Unit =
    SparkWork.replay(t.sc)(t.tracer.span("replay") {
      def stage(name: String)(f: => DataFrame): DataFrame = {
        val t0 = System.nanoTime()
        val out = t.tracer.span(s"operators.$name")(Staged.materialize(f))
        stageMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
        stageRows(name) = out.count()
        out
      }
      val s1 = stage("exact_dedup") {
        docs.join(Dedup.exactKeepMin(docs, "text", "doc_id").select("doc_id"),
          Seq("doc_id"), "left_semi")
      }
      val s2 = stage("near_dedup") {
        val comp = Dedup.nearDupComponents(s1, "doc_id", "text", MinhashThreshold)
        s1.join(comp, Seq("doc_id"), "left")
          .where(col("component").isNull || col("component") === col("doc_id"))
          .drop("component")
      }
      val benchSet = t.sc.broadcast(Curation.benchmarkGramSet(bench, "text", DecontamN))
      val s3 = try stage("decontam_tokenize") {
        val probe = Curation.tokenCountContamUdf(benchSet, DecontamN)
        s2.select(col("doc_id"), col("source"), probe(TextOps.tokens(col("text"))).as("__p"))
          .where(col("__p").isNull || !col("__p._2"))
          .select(col("doc_id"), col("source"), col("__p._1").as("__n"))
      } finally benchSet.unpersist(false)
      val s4 = stage("mix")(Sampling.tokenBudgetMix(s3, "source", col("doc_id"), "__n",
        BudgetTokens))
      stage("pack")(Packing.packOffsets(s4.select(col("doc_id"), col("__n")),
        "doc_id", "__n", PackBudget))
    })
}
