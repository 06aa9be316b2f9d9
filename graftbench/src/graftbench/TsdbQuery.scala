package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.graphite.GraphiteParser
import graft.m3ql.M3QL
import graft.promql.PromQL
import graft.sources.{SeriesStore, TszStore}
import graft.tsdb.Fetch

/** The dashboard read path: two closed-loop clients issue a seeded
  * sequence of queries from a fixed pool (PromQL instant and range,
  * Graphite render, M3QL, matcher fetch, tsz decoded read) against a
  * bucketed SeriesStore and a TszStore built during set-up. Each op
  * builds the frame through the front door, plans it and collects
  * the result to the client. */
final class TsdbQuery(inDir: String) extends Workload {
  import TsdbQuery._

  private val seriesTable = "gb_series"
  private val tszTable = "gb_tsz"
  private lazy val spec = Spec.read(s"$inDir/queries.json")
  private lazy val pool: Map[String, Q] =
    spec.get("pool").elements().asScala.map(Q.from).map(q => q.id -> q).toMap
  private lazy val order: Array[String] =
    spec.get("order").elements().asScala.map(_.asText).toArray
  /** Op id -> (query id, schema, rows) of every timed op that ran. */
  private val results = new ConcurrentHashMap[Long, (String, StructType, Array[Row])]()

  def deadlineS: Double = 60

  private def raw(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$inDir/samples.parquet")

  /** Both stores are built at once, as independent stores would be. */
  def stores(ctx: Ctx): Unit = ctx.tracer.span("sources.store_build") {
    val samples = raw(ctx.spark)
    Par.map(Seq(
      () => {
        val (buckets, granularity) = SeriesStore.layoutFor(samples)
        SeriesStore.write(samples, seriesTable, buckets, granularity)
      },
      () => TszStore.write(samples, tszTable)), 2)(_())
  }

  /** Every query of the pool once, on two threads as in the timed
    * phase, so JIT, codegen caches and the catalog are warm before the
    * first timed op. */
  def warmup(ctx: Ctx): Unit = Par.map(pool.values.toSeq.sortBy(_.id), 2)(run(ctx, _))

  def timed(ctx: Ctx): Unit = {
    val next = new AtomicInteger(0)
    ctx.clients(2) { client =>
      var i = next.getAndIncrement()
      while (i < math.min(ctx.nOps, order.length)) {
        val q = pool(order(i))
        ctx.ops.run(client, "query", q.id) { op =>
          val (schema, rows) = run(ctx, q)
          results.put(op, (q.id, schema, rows))
        }
        i = next.getAndIncrement()
      }
    }
  }

  private def run(ctx: Ctx, q: Q): (StructType, Array[Row]) = {
    val df = ctx.tracer.span(layerOf(q.shape))(frame(ctx.spark, q, fromStore = true))
    ctx.tracer.span("spark.plan")(df.queryExecution.executedPlan)
    (df.schema, ctx.tracer.span("spark.exec")(df.collect()))
  }

  /** The query's frame over the stores, or over the raw generated
    * samples (the check's reference) with the same time bounds. */
  private def frame(spark: SparkSession, q: Q, fromStore: Boolean): DataFrame = {
    def samples = {
      if (fromStore) SeriesStore.read(spark, seriesTable,
        Some(day(q.t0 - 86400)), Some(day(q.t1 + 86400))).drop("dt")
      else raw(spark)
    }
    def bounded(from: Long) = Fetch(samples, Nil, Some(from), Some(q.t1))
    q.shape match {
      case "promql_instant" => PromQL.query(bounded(q.t0), q.text)
      case "promql_range" =>
        PromQL.rangeQuery(bounded(q.t0 - 7200), q.text, q.t0, q.t1 - 1, q.step)
      case "graphite" =>
        GraphiteParser.render(samples, q.text, q.t0.toString, q.t1.toString, q.t1)
      case "m3ql" => M3QL.query(bounded(q.t0), q.text)
      case "fetch" =>
        Fetch(samples, Seq(Fetch.Matcher("name", Fetch.Eq, q.name),
          Fetch.Matcher("user_id", Fetch.Re, q.userRe)), Some(q.t0), Some(q.t1))
      case "tsz" =>
        val (b0, b1) = (q.t0 / 86400, q.t1 / 86400)
        val decoded =
          if (fromStore) TszStore.readDecoded(spark, tszTable, Some(b0), Some(b1))
          else {
            val block = floor(unix_timestamp(col("ts")) / 86400)
            raw(spark).where(block >= b0 && block < b1)
          }
        decoded
          .where(col("name") === q.name &&
            col("user_id").cast("string").rlike(s"^(?:${q.userRe})$$"))
          .groupBy("name", "user_id")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long")).as("sum_c"))
    }
  }

  /** Every timed op must give the same rows over the stores as its
    * query gives over the raw frame (computed once per distinct
    * query); each matcher fetch op's rows are also written out for
    * `check.py` to recompute in DuckDB. Verdicts are per op. */
  def check(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val byQuery = results.asScala.toSeq.groupBy(_._2._1).toSeq.sortBy(_._1)
    val verdicts = Par.map(byQuery, 3) { case (id, runs) =>
      val q = pool(id)
      val want = frame(spark, q, fromStore = false).collect()
      runs.map { case (op, (_, schema, got)) =>
        if (q.shape == "fetch")
          spark.createDataFrame(got.toList.asJava, schema)
            .write.mode("overwrite").parquet(s"${ctx.outDir}/check/fetch_$op")
        op.toString -> Rows.diff(got, want).getOrElse("ok")
      }
    }.flatten
    Map("queries" -> verdicts.toMap,
      "fetches" -> results.asScala.toSeq.sortBy(_._1).collect {
        case (op, (id, _, _)) if pool(id).shape == "fetch" =>
          val q = pool(id)
          Map("op" -> op, "id" -> id, "name" -> q.name, "user_re" -> q.userRe,
            "t0" -> q.t0, "t1" -> q.t1)
      })
  }
}

object TsdbQuery {
  final case class Q(id: String, shape: String, text: String, t0: Long,
                     t1: Long, step: Long, name: String, userRe: String)
  object Q {
    def from(n: com.fasterxml.jackson.databind.JsonNode): Q = Q(
      n.get("id").asText, n.get("shape").asText, n.get("text").asText,
      n.get("t0").asLong, n.get("t1").asLong, n.get("step").asLong,
      n.get("name").asText, n.get("user_re").asText)
  }

  def layerOf(shape: String): String = shape match {
    case "promql_instant" | "promql_range" => "promql.build"
    case "graphite" => "graphite.build"
    case "m3ql" => "m3ql.build"
    case "fetch" => "tsdb.fetch.build"
    case "tsz" => "sources.tsz_read.build"
  }

  def day(epochS: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(epochS, 86400L)).toString
}

/** Input specs written by `gen.py`. */
object Spec {
  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
}

/** Order-insensitive row comparison that tolerates the last-bit float
  * differences two summation orders give. */
object Rows {
  private def key(r: Row): String = r.toSeq.map {
    case d: Double => f"$d%.6e"
    case x => String.valueOf(x)
  }.mkString("|")

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }

  def diff(got: Array[Row], want: Array[Row]): Option[String] = {
    if (got.length != want.length)
      return Some(s"row count ${got.length} != ${want.length}")
    val g = got.sortBy(key)
    val w = want.sortBy(key)
    g.indices.find { i =>
      g(i).length != w(i).length ||
        g(i).toSeq.zip(w(i).toSeq).exists { case (a, b) => !close(a, b) }
    }.map(i => s"row $i: ${g(i)} != ${w(i)}")
  }
}
