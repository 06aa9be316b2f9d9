package graftbench

import java.sql.Timestamp
import java.util.concurrent.Semaphore
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sources.{Carbon, InfluxLine, PromWrite, SeriesStore, TszStore}
import graft.streaming.Ingest
import graft.tsdb.Downsample

/** The write path beside reads. One writer pushes a fixed number of
  * seeded batches (Prom remote-write label arrays, Influx line
  * protocol, Carbon plaintext) through the parsers, appends them to a
  * TszStore and a SeriesStore, compacts every `compact_every`
  * batches, rolls each batch up through a storage-policy stack and
  * feeds it to a streaming windowed rollup as one micro-batch. One
  * reader issues `ReadsPerBatch` read-back queries on the stores for
  * every batch the writer starts, so both clients do a fixed amount
  * of work. */
final class TsdbIngest(inDir: String) extends Workload {
  import TsdbIngest._

  private val spec = Spec.read(s"$inDir/ingest.json")
  private val nBatches = spec.get("batches").asInt
  private val compactEvery = spec.get("compact_every").asInt
  private val names = spec.get("names").elements().asScala.map(_.asText).toArray
  /** Wire input per batch (Prom label arrays, Influx lines, Carbon
    * lines), decoded into rows before set-up so no timer sees it. */
  private val wire: IndexedSeq[Seq[Seq[Row]]] = {
    val batches = Spec.read(s"$inDir/batches.json")
    def lines(proto: String, b: Int) =
      batches.get(proto).get(b).elements().asScala.map(l => Row(l.asText)).toSeq
    (0 to nBatches).map { b =>
      val prom = batches.get("prom").get(b).elements().asScala.map { r =>
        Row(r.get(0).elements().asScala.map(l => Row(l.get(0).asText, l.get(1).asText)).toSeq,
          new Timestamp(r.get(1).asLong * 1000L), r.get(2).asDouble)
      }.toSeq
      Seq(prom, lines("influx", b), lines("carbon", b))
    }
  }

  private val lock = new ReentrantReadWriteLock()
  private val ingested = ArrayBuffer.empty[Row]
  private var rowsIn, rowsOut = 0L
  private val progress = ArrayBuffer.empty[Map[String, Any]]
  private var mem: MemoryStream[Ingest.Sample] = _
  private var stream: StreamingQuery = _
  private var rep = 0

  def deadlineS: Double = 90

  def stores(ctx: Ctx): Unit = {
    rep += 1
    val spark = ctx.spark
    ctx.tracer.span("sources.store_build") {
      val base = spark.read.parquet(s"$inDir/base.parquet")
      Par.map(Seq(
        () => SeriesStore.write(base, SeriesTable, Buckets, "day"),
        () => TszStore.write(base, TszTable, Buckets)), 2)(_())
    }
    implicit val sqlContext: SQLContext = spark.sqlContext
    import spark.implicits._
    mem = MemoryStream[Ingest.Sample]
    // the micro-batch thread inherits this thread's attribution key
    val sc = spark.sparkContext
    val key = sc.getLocalProperty(Probe.Key)
    sc.setLocalProperty(Probe.Key, "streaming")
    stream = Ingest.windowedRollup(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName(RollupTable)
      .option("checkpointLocation", s"${ctx.outDir}/stream-checkpoint-$rep")
      .start()
    sc.setLocalProperty(Probe.Key, key)
  }

  /** Batch 0 through the whole write path. */
  def warmup(ctx: Ctx): Unit = writeBatch(ctx, 0)

  /** Batches that compact run another code path, so their tag says so:
    * latency metrics take the median per tag. */
  def timed(ctx: Ctx): Unit = {
    val batches = 1 to math.min(ctx.nOps, nBatches)
    val nReads = batches.size * ReadsPerBatch
    val reads = new Semaphore(0)
    ctx.clients(2) {
      case 0 =>
        try batches.foreach { b =>
          reads.release(ReadsPerBatch)
          val tag = if (b % compactEvery == 0) "append+compact" else "append"
          ctx.ops.run(0, "batch", tag)(_ => writeBatch(ctx, b))
        } finally reads.release(nReads)
      case _ =>
        (0 until nReads).foreach { i =>
          reads.acquire()
          val name = names(i % names.length)
          ctx.ops.run(1, "readback", name)(_ => readBack(ctx, name, i % 2 == 0))
        }
    }
  }

  private def writeBatch(ctx: Ctx, b: Int): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val Seq(promRows, influxRows, carbonRows) = wire(b)
    val samples = t.span("sources.parse") {
      val prom = PromWrite.parse(spark.createDataFrame(promRows.asJava, PromSchema))
        .where(!col("malformed"))
        .select(col("name"), expr("try_element_at(tags, 'user')").cast("long").as("user_id"),
          col("ts"), col("value"))
      val influx = InfluxLine.parse(spark.createDataFrame(influxRows.asJava, LineSchema))
        .where(!col("malformed"))
        .select(col("name"), expr("try_element_at(tags, 'user')").cast("long").as("user_id"),
          col("ts"), col("value"))
      val carbon = Carbon.parse(spark.createDataFrame(carbonRows.asJava, LineSchema))
        .where(!col("malformed"))
        .select(substring_index(col("path"), ".", 1).as("name"),
          regexp_extract(col("path"), "user([0-9]+)$", 1).cast("long").as("user_id"),
          col("ts"), col("value"))
      prom.unionByName(influx).unionByName(carbon).collect()
    }
    if (b > 0) {
      rowsIn += wire(b).map(_.size).sum
      rowsOut += samples.length
    }
    ingested ++= samples
    val batch = spark.createDataFrame(samples.toList.asJava, SampleSchema)
    t.span("sources.append") {
      TszStore.appendBatch(batch, TszTable, Buckets)
      SeriesStore.appendBatch(batch, SeriesTable, Buckets)
    }
    if (b > 0 && b % compactEvery == 0) t.span("sources.compact")(compact(spark))
    t.span("tsdb.downsample") {
      Downsample.policyStack(batch, Policies).collect()
      Downsample.clearTierCache()
    }
    t.span("streaming.batch") {
      mem.addData(samples.toSeq.map(r =>
        Ingest.Sample(r.getString(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3))))
      stream.processAllAvailable()
      val p = stream.lastProgress
      if (p != null) {
        val state = p.stateOperators.headOption
        progress += Map(
          "duration_ms" -> p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L),
          "state_rows" -> state.map(_.numRowsTotal).getOrElse(0L),
          "state_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L),
          "batch_max_s" -> samples.map(_.getTimestamp(2).getTime / 1000L).max,
          "watermark_s" -> Option(p.eventTime.get("watermark"))
            .map(java.time.Instant.parse(_).getEpochSecond).getOrElse(0L))
      }
    }
  }

  /** Compaction rewrites files readers may have listed, so it runs
    * alone; appends only add files and run beside reads. */
  private def compact(spark: SparkSession): Unit = {
    lock.writeLock.lock()
    try {
      TszStore.compact(spark, TszTable, Buckets)
      SeriesStore.compact(spark, SeriesTable, buckets = Buckets)
    } finally lock.writeLock.unlock()
  }

  private def readBack(ctx: Ctx, name: String, series: Boolean): Unit = {
    val spark = ctx.spark
    lock.readLock.lock()
    try {
      val df = ctx.tracer.span("sources.readback") {
        val src =
          if (series) SeriesStore.read(spark, SeriesTable).drop("dt")
          else TszStore.readDecoded(spark, TszTable)
        src.where(col("name") === name && col("user_id") < 10)
          .groupBy("name", "user_id")
          .agg(count(lit(1)).as("n"), sum("value").as("sum_v"), max("ts").as("last_ts"))
      }
      ctx.tracer.span("spark.plan")(df.queryExecution.executedPlan)
      ctx.tracer.span("spark.exec")(df.collect())
    } finally lock.readLock.unlock()
  }

  /** Writes what `check.py` compares: the samples the writer
    * ingested, the decoded TszStore, the policy rollup over the
    * SeriesStore and the streaming sink. */
  def check(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val dir = s"${ctx.outDir}/check"
    spark.createDataFrame(ingested.asJava, SampleSchema)
      .write.mode("overwrite").parquet(s"$dir/ingested")
    TszStore.readDecoded(spark, TszTable)
      .write.mode("overwrite").parquet(s"$dir/tsz_readback")
    Downsample.policyStack(SeriesStore.read(spark, SeriesTable).drop("dt"), Policies)
      .write.mode("overwrite").parquet(s"$dir/rollup")
    Downsample.clearTierCache()
    stream.stop()
    spark.table(RollupTable).write.mode("overwrite").parquet(s"$dir/stream")
    val seriesRows = SeriesStore.read(spark, SeriesTable).count()
    Map("series_rows" -> seriesRows)
  }

  override def extra(ctx: Ctx): Map[String, Any] = {
    val (bytes, files) = Store.size(ctx.spark, TszTable)
    val (sBytes, sFiles) = Store.size(ctx.spark, SeriesTable)
    Map("rows_in" -> rowsIn, "rows_out" -> rowsOut,
      "ingested" -> ingested.size,
      "tsz_bytes" -> bytes, "tsz_files" -> files,
      "series_bytes" -> sBytes, "series_files" -> sFiles,
      "progress" -> progress.toSeq)
  }
}

object TsdbIngest {
  val TszTable = "gb_ing_tsz"
  val SeriesTable = "gb_ing_series"
  val RollupTable = "gb_rollup"
  val Buckets = 4
  /** Read-backs per written batch: a dashboard refreshing beside the
    * writer, not a second writer-sized load. */
  val ReadsPerBatch = 3
  val Policies = Seq(Downsample.Policy("1m"), Downsample.Policy("10m"),
    Downsample.Policy("1h"))

  val PromSchema: StructType = StructType(Seq(
    StructField("labels", ArrayType(StructType(Seq(
      StructField("name", StringType), StructField("value", StringType))))),
    StructField("ts", TimestampType), StructField("value", DoubleType)))
  val LineSchema: StructType = StructType(Seq(StructField("line", StringType)))
  val SampleSchema: StructType = StructType(Seq(
    StructField("name", StringType), StructField("user_id", LongType),
    StructField("ts", TimestampType), StructField("value", DoubleType)))
}

/** On-disk size of a catalog table: (bytes, data files). */
object Store {
  def size(spark: SparkSession, table: String): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    var bytes, files = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { bytes += f.getLen; files += 1 }
    }
    (bytes, files)
  }
}
