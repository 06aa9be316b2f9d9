package graftbench

import org.apache.spark.sql.functions.col

import graft.SparkEntry

/** The training-data batch path: one client runs a fixed list of
  * pipeline stages, in order, through `SparkEntry.queries`, writing
  * each stage's result to parquet. One pass over all stages is one
  * pipeline run; the run repeats the pass `ops / stages` times with
  * the program's caches cleared in between, so every pass starts from
  * the input files alone. */
final class TrainingData(inDir: String) extends Workload {
  import TrainingData._

  private val passTimes = scala.collection.mutable.ArrayBuffer.empty[Long]

  def deadlineS: Double = 90

  def stores(ctx: Ctx): Unit = ()

  /** Two cheap stages, side by side, so the first timed stage does not
    * pay the session's first-query costs. */
  def warmup(ctx: Ctx): Unit =
    Par.map(Seq("dedup_exact", "text_perplexity"), 2)(runStage(ctx, _, "warmup"))

  def timed(ctx: Ctx): Unit = {
    val passes = math.max(1, ctx.nOps / Stages.size)
    (1 to passes).foreach { p =>
      val t0 = System.nanoTime
      ctx.tracer.span("pipeline.pass") {
        Stages.foreach { s =>
          ctx.ops.run(0, "stage", s)(_ => runStage(ctx, s, s"pass$p"))
        }
      }
      passTimes += System.nanoTime - t0
      clearCaches()
    }
  }

  private def runStage(ctx: Ctx, stage: String, sink: String): Unit = {
    val df = ctx.tracer.span(layerOf(stage))(SparkEntry.queries(stage)(ctx.spark, inDir))
    ctx.tracer.span("spark.plan")(df.queryExecution.executedPlan)
    ctx.tracer.span("spark.exec")(
      df.write.mode("overwrite").parquet(s"${ctx.outDir}/$sink/$stage"))
  }

  /** Every pass writes its own stage outputs, and `check.py` compares
    * each of them with the stage's DuckDB oracle. */
  def check(ctx: Ctx): Map[String, Any] =
    Map("oracle_sql" -> Stages.map(s => s -> SparkEntry.oracleSql(s)).toMap)

  override def extra(ctx: Ctx): Map[String, Any] =
    Map("pass_ns" -> passTimes.toSeq, "stages" -> Stages)
}

object TrainingData {
  /** One stage or more from each pipeline family, including the
    * iterative many-job loops (minhash banding, k-means).
    * `text_tfidf` is not among them: it ranks words on unrounded
    * tf·ln(n/df), and at exact ties (tf 1 at df n/9 against tf 2 at
    * df n/3) Spark and DuckDB can order the tied words differently,
    * so its oracle check fails on some seeds. */
  val Stages: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash", "dedup_simhash",
    "sim_kmeans_inertia", "sim_ivf_ann",
    "text_perplexity", "corpus_decontam")

  def layerOf(stage: String): String = stage.takeWhile(_ != '_') match {
    case "dedup"  => "pipeline.dedup"
    case "sim"    => "pipeline.similarity"
    case "corpus" => "pipeline.corpus"
    case "text"   => "pipeline.text"
  }

  def clearCaches(): Unit = {
    graft.pipeline.Dedup.clearShingleCache()
    graft.pipeline.Corpus.clearClusterCache()
    graft.tsdb.Downsample.clearTierCache()
  }
}
