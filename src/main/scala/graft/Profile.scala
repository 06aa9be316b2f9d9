package graft

import org.apache.spark.sql.functions._

/** Ad-hoc stage profiler for the dedup pipeline (not part of the
  * driver contract). */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    Sessions.tune(spark)
    val docs = Tables.documents(spark, sfDir)
    docs.count()
    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PROFILE $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }
    t("docs.count")(docs.count())
    t("words.explode")(docs.select(explode(split(lower(col("text")), "\\s+"))).count())
    t("shingles")(pipeline.Dedup.shingles(docs).count())
    t("shingles+md5")(pipeline.Dedup.shingles(docs)
      .select(pipeline.Dedup.md5Int(col("shingle"))).count())
    t("shingles_materialized") {
      val ws = docs.select(col("doc_id"), split(lower(col("text")), "\\s+").as("ws"))
      ws.select(col("doc_id"), explode(array_distinct(filter(
        transform(col("ws"), (_, i) =>
          when(i <= size(col("ws")) - 3,
            concat_ws(" ", element_at(col("ws"), i + 1),
              element_at(col("ws"), i + 2), element_at(col("ws"), i + 3)))),
        _.isNotNull))).as("shingle")).count()
    }
    t("minhash_sig")(pipeline.Dedup.minhashSignature(docs, 16).count())
    t("simhash")(pipeline.Dedup.simhash(docs).count())
    // bigram-LM stage breakdown (ws projected first — see
    // TextAnalysis.bigramCrossEntropy)
    val base = docs.select(col("doc_id"),
      split(lower(col("text")), "\\s+").as("ws"))
    val n = size(col("ws"))
    val bigrams = when(n >= 2,
      transform(sequence(lit(1), n - 1),
        i => concat(element_at(col("ws"), i), lit(" "),
          element_at(col("ws"), i + 1))))
      .otherwise(array().cast("array<string>"))
    t("bigram.explode")(base.select(col("doc_id"), explode(bigrams).as("bg")).count())
    val tfd = base.select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
    t("bigram.tfd")(tfd.count())
    t("bigram.c12")(tfd.groupBy("bg").agg(sum("tf")).count())
    t("bigram.full") {
      val df = pipeline.TextAnalysis.bigramCrossEntropy(docs)
      df.write.format("noop").mode("overwrite").save(); df.count()
    }
    println(pipeline.TextAnalysis.bigramCrossEntropy(docs)
      .queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Reused") ||
        l.contains("Scan parquet") || l.contains("Join") || l.contains("Generate"))
      .mkString("\n"))
    spark.stop()
  }
}
