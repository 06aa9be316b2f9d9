package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters for one attribution key. */
final class Counters {
  val jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleRead, shuffleWrite,
    spill, inputBytes, inputRecords = new AtomicLong

  def values: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "executor_cpu_ns" -> cpuNs.get, "executor_run_ms" -> runMs.get,
    "gc_ms" -> gcMs.get, "shuffle_read_bytes" -> shuffleRead.get,
    "shuffle_write_bytes" -> shuffleWrite.get, "spill_bytes" -> spill.get,
    "input_bytes" -> inputBytes.get, "input_records" -> inputRecords.get)
}

/** Listener pair attached from the benchmark's own code. Every job is
  * attributed to the `graftbench.key` local property of the thread
  * that submitted it: the span id in a traced run, the phase name
  * otherwise. Events arrive on Spark's listener bus, so counters are
  * read after draining it. */
final class Probe extends SparkListener with QueryExecutionListener {
  val byKey = new ConcurrentHashMap[String, Counters]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  val sqlOk, sqlFailed, sqlNs = new AtomicLong

  private def counters(k: String): Counters =
    byKey.computeIfAbsent(k, _ => new Counters)
  private def keyOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Probe.Key))).getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e.properties)
    counters(k).jobs.incrementAndGet()
    e.stageInfos.foreach(s => stageKey.put(s.stageId, k))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    counters(stageKey.getOrDefault(e.stageInfo.stageId, keyOf(e.properties)))
      .stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val c = counters(stageKey.getOrDefault(e.stageId, "-"))
    c.tasks.incrementAndGet()
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.runMs.addAndGet(m.executorRunTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    sqlOk.incrementAndGet()
    sqlNs.addAndGet(durationNs)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit =
    sqlFailed.incrementAndGet()

  /** Counters summed over every key, after draining the bus: the
    * difference of two snapshots is exactly what ran in between. */
  def snapshot(sc: org.apache.spark.SparkContext): Map[String, Long] = {
    org.apache.spark.graftbench.Bus.drain(sc)
    byKey.values.asScala.map(_.values).foldLeft(Map.empty[String, Long]) { (acc, m) =>
      m.map { case (k, v) => k -> (v + acc.getOrElse(k, 0L)) }
    } ++ Map("sql_ok" -> sqlOk.get, "sql_failed" -> sqlFailed.get, "sql_ns" -> sqlNs.get)
  }

  /** Totals and counters per attribution key, for the result file. */
  def report: Map[String, Any] = Map("sql_ok" -> sqlOk.get, "sql_failed" -> sqlFailed.get,
    "sql_ns" -> sqlNs.get, "by_key" -> byKey.asScala.map { case (k, c) => k -> c.values }.toMap)
}

object Probe {
  /** Local property naming the attribution key of submitted jobs. */
  val Key = "graftbench.key"
}
