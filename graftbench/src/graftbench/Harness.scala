package graftbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** One recorded span: a layer call, an op, or a setup phase. */
final case class SpanRec(id: Long, parent: Long, name: String, op: Long,
                         startNs: Long, endNs: Long, ok: Boolean)

/** Span recorder. With `on` false it only tracks which layer a thread
  * is in (for failure accounting); with `on` true it also keeps every
  * span in memory and points the thread's Spark attribution key at
  * the open span, so listener counters land on the layer that caused
  * them. Spans are written once, when the run ends. */
final class Tracer(val on: Boolean) {
  @volatile var sc: SparkContext = _
  private val next = new AtomicLong
  private final case class Frame(id: Long, name: String, op: Long)
  private val stack = ThreadLocal.withInitial[List[Frame]](() => Nil)
  private val failedIn = new ThreadLocal[String]
  val spans = new ConcurrentLinkedQueue[SpanRec]
  /** Time spent recording, summed over threads: the tracing overhead. */
  val overheadNs = new AtomicLong

  /** Attribution key for jobs this thread submits outside any span. */
  def phase(key: String): Unit = if (sc != null) sc.setLocalProperty(Probe.Key, key)

  def span[T](name: String, op: Long = -1L)(body: => T): T = {
    val b0 = System.nanoTime
    val outer = stack.get
    val id = next.incrementAndGet()
    val opId = if (op >= 0) op else outer.headOption.map(_.op).getOrElse(-1L)
    stack.set(Frame(id, name, opId) :: outer)
    val ctx = sc
    val prevKey = if (on && ctx != null) ctx.getLocalProperty(Probe.Key) else null
    if (on && ctx != null) ctx.setLocalProperty(Probe.Key, id.toString)
    val t0 = System.nanoTime
    var ok = false
    try {
      val r = body
      ok = true
      r
    } catch {
      case e: Throwable =>
        if (failedIn.get == null) failedIn.set(name)
        throw e
    } finally {
      val t1 = System.nanoTime
      stack.set(outer)
      if (on) {
        spans.add(SpanRec(id, outer.headOption.map(_.id).getOrElse(0L), name,
          opId, t0, t1, ok))
        if (ctx != null) ctx.setLocalProperty(Probe.Key, prevKey)
        overheadNs.addAndGet(t0 - b0 + System.nanoTime - t1)
      }
    }
  }

  /** Innermost span that threw on this thread since the last call. */
  def takeFailedLayer(): String = {
    val l = failedIn.get
    failedIn.remove()
    Option(l).getOrElse("-")
  }
}

/** One timed operation as the client saw it. */
final case class OpRec(client: Int, op: Long, kind: String, tag: String,
                       startNs: Long, endNs: Long, ok: Boolean,
                       error: String, layer: String)

/** Runs ops with failure accounting and a per-op deadline. Each op is
  * its own Spark job group, set from the client's thread with
  * interrupt-on-cancel; a watchdog cancels the group when the deadline
  * passes, so a hung op fails alone instead of eating the run. */
final class Ops(tracer: Tracer, deadlineS: Double) {
  val recs = new ConcurrentLinkedQueue[OpRec]
  private val next = new AtomicLong
  private val watchdog = Executors.newSingleThreadScheduledExecutor(
    new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "graftbench-deadline")
        t.setDaemon(true)
        t
      }
    })

  /** Runs one op; `body` gets the op's id. */
  def run(client: Int, kind: String, tag: String)(body: Long => Unit): Unit = {
    val sc = tracer.sc
    val op = next.incrementAndGet()
    val group = s"graftbench-op-$op"
    sc.setJobGroup(group, s"$kind $tag", interruptOnCancel = true)
    val expired = new AtomicBoolean(false)
    val timer = watchdog.schedule(new Runnable {
      def run(): Unit = { expired.set(true); sc.cancelJobGroup(group) }
    }, (deadlineS * 1000).toLong, TimeUnit.MILLISECONDS)
    val t0 = System.nanoTime
    val (ok, err) =
      try { tracer.span("op", op)(body(op)); (true, "") }
      catch {
        case e: Throwable =>
          (false, if (expired.get) "DeadlineExceeded" else rootCause(e).getClass.getName)
      }
    val t1 = System.nanoTime
    timer.cancel(false)
    sc.clearJobGroup()
    val layer = tracer.takeFailedLayer()
    recs.add(OpRec(client, op, kind, tag, t0, t1, ok, err, if (ok) "" else layer))
  }

  private def rootCause(e: Throwable): Throwable =
    if (e.getCause == null || e.getCause == e) e else rootCause(e.getCause)

  def shutdown(): Unit = watchdog.shutdownNow()
}

/** Everything a workload needs during its run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val ops: Ops,
                val inDir: String, val outDir: String, val nOps: Int) {
  /** Run `clients` closed-loop client threads to completion. */
  def clients(n: Int)(loop: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]
    val threads = (0 until n).map { c =>
      val t = new Thread(() => {
        tracer.phase("timed")
        try loop(c) catch { case e: Throwable => errors.add(e) }
      }, s"graftbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }
}

/** Runs independent calls on a small thread pool (each thread inherits
  * the caller's Spark local properties, so attribution is kept). */
object Par {
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }
}

/** A benchmark workload: set-up steps that count towards `setup_s`,
  * the timed phase, and the output checks. */
trait Workload {
  /** Time after which a single op is cancelled and fails. */
  def deadlineS: Double
  def stores(ctx: Ctx): Unit
  def warmup(ctx: Ctx): Unit
  def timed(ctx: Ctx): Unit
  /** JVM-side checks and the artifacts `check.py` reads. */
  def check(ctx: Ctx): Map[String, Any]
  /** Workload-specific measurements for the result file. */
  def extra(ctx: Ctx): Map[String, Any] = Map.empty
}
