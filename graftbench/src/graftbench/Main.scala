package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  * {{{
  *   graftbench.Main --workload W --in DIR --out DIR --ops N --trace 0|1
  * }}}
  * Spark runs `local[C]` on the C cores this process may use. Starts a
  * session and builds the stores `SetupReps` times (each rep restarts
  * the session, so every rep pays the same costs), warms up once on
  * the last session, runs the timed phase, checks outputs, and writes
  * `result.json` into the out directory. `run.py` turns that file into
  * metrics. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val inDir = o("in")
    val outDir = o("out")
    val nOps = o("ops").toInt
    val cpus = Runtime.getRuntime.availableProcessors
    val w: Workload = o("workload") match {
      case "tsdb_query"    => new TsdbQuery(inDir)
      case "tsdb_ingest"   => new TsdbIngest(inDir)
      case "training_data" => new TrainingData(inDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer(o("trace") == "1")
    val probe = new Probe
    val ops = new Ops(tracer, w.deadlineS)
    Files.createDirectories(Paths.get(outDir))

    var ctx: Ctx = null
    val reps = (1 to SetupReps).map { rep =>
      if (ctx != null) stop(ctx.spark, tracer)
      tracer.span("setup") {
        val t0 = System.nanoTime
        val spark = tracer.span("setup.session")(session(cpus, outDir, probe))
        tracer.sc = spark.sparkContext
        tracer.phase("setup")
        ctx = new Ctx(spark, tracer, ops, inDir, outDir, nOps)
        val t1 = System.nanoTime
        tracer.span("setup.stores")(w.stores(ctx))
        val t2 = System.nanoTime
        Map("rep" -> rep, "session_ns" -> (t1 - t0), "stores_ns" -> (t2 - t1))
      }
    }
    val w0 = System.nanoTime
    tracer.span("setup.warmup")(w.warmup(ctx))
    val warmupNs = System.nanoTime - w0

    tracer.phase("timed")
    val spark0 = probe.snapshot(ctx.spark.sparkContext)
    val trace0 = tracer.overheadNs.get
    val jit = ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    val cpu0 = processCpuNs()
    val t0 = System.nanoTime
    w.timed(ctx)
    val t1 = System.nanoTime
    val cpu1 = processCpuNs()
    val jit1 = jit.getTotalCompilationTime
    val trace1 = tracer.overheadNs.get
    val spark1 = probe.snapshot(ctx.spark.sparkContext)
    val heapMb = retainedHeapMb()

    tracer.phase("check")
    val c0 = System.nanoTime
    val checks =
      try w.check(ctx)
      catch { case e: Throwable => Map("error" -> e.toString) }
    val checkNs = System.nanoTime - c0
    val extra = w.extra(ctx)
    ops.shutdown()
    // stopping the context drains the listener bus, so the probe's
    // counters are complete from here on
    stop(ctx.spark, tracer)

    val result = Map(
      "workload" -> o("workload"),
      "traced" -> tracer.on,
      "cpus" -> cpus,
      "setup" -> Map("reps" -> reps, "warmup_ns" -> warmupNs),
      "check_ns" -> checkNs,
      "timed" -> Map("start_ns" -> t0, "end_ns" -> t1, "wall_ns" -> (t1 - t0),
        "cpu_ns" -> (cpu1 - cpu0), "jit_ms" -> (jit1 - jit0),
        "trace_overhead_ns" -> (trace1 - trace0),
        "spark" -> spark1.map { case (k, v) => k -> (v - spark0.getOrElse(k, 0L)) }),
      "retained_heap_mb" -> heapMb,
      "ops" -> ops.recs.asScala.toSeq,
      "spans" -> tracer.spans.asScala.toSeq,
      "probe" -> probe.report,
      "checks" -> checks,
      "extra" -> extra)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
      .writeValue(Paths.get(outDir, "result.json").toFile, result)
  }

  private def session(cpus: Int, outDir: String, probe: Probe): SparkSession = {
    val spark = graft.Sessions.builder(cpus.toString)
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.local.dir", s"$outDir/spark-local")
      .getOrCreate()
    graft.Sessions.tune(spark, "ERROR")
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    spark
  }

  private def stop(spark: SparkSession, tracer: Tracer): Unit = {
    graft.pipeline.Dedup.clearShingleCache()
    graft.pipeline.Corpus.clearClusterCache()
    graft.tsdb.Downsample.clearTierCache()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    tracer.sc = null
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap in use after forced full collections: what the session keeps
    * alive once the timed phase is over. */
  private def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
