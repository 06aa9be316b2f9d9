package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev loop)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus).getOrCreate()
    Sessions.tune(spark)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in an oracle's SQL would otherwise make the
    // checker's json.load fail and silently zero the correctness record.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Overlap independent queries from a small thread pool (guide
    // §2.6): each sf0.01 dump is latency-bound (planning + job
    // dispatch + a 1-file write), so a strictly sequential loop left
    // the box mostly idle and the full 450+-query dump risked the
    // driver's time budget (r12's CORRECTNESS came back empty).
    // Every builder memo the queries share is single-flight
    // (graft.Memo), so concurrent first callers cannot double-build
    // a table; Spark's FIFO scheduler back-fills executor slots from
    // the next query's tasks while the previous one drains.
    val threads = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "8").toInt)
    val work = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // the names asked for, so the checker can fail every one that
    // wrote no dump (a query that throws leaves none — and no stale
    // dump of an earlier run either)
    val requested = only.map(_.toSeq.sorted).getOrElse(work.map(_._1))
    requested.foreach(name =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name")))
    Files.writeString(Paths.get(s"$outDir/requested.json"),
      requested.map(q).mkString("[", ",", "]"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val tasks = work.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          spark.sparkContext.setJobDescription(s"verify: $name")
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    pipeline.Dedup.clearShingleCache()
    pipeline.Corpus.clearClusterCache()
    tsdb.Downsample.clearTierCache()
    spark.stop()
  }
}
