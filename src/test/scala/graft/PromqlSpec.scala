package graft

import graft.promql.PromQL
import graft.promql.PromQL._
import graft.tsdb.Fetch

class PromqlSpec extends SparkSpec {

  test("parses selector with matchers, range and offset") {
    val e = PromQL.parse("""purchase{user_id!="7",name=~"p.*"}[1h] offset 1d""")
    assert(e == Selector(Some("purchase"),
      Seq(Fetch.Matcher("user_id", Fetch.NotEq, "7"),
        Fetch.Matcher("name", Fetch.Re, "p.*")),
      Some("hour"), 86400L))
  }

  test("parses nested agg-over-function") {
    val e = PromQL.parse("""sum by (name) (rate({name=~"x.*"}[1d]))""")
    assert(e == Agg("sum", Some(Seq("name")), None,
      Func("rate", Selector(None,
        Seq(Fetch.Matcher("name", Fetch.Re, "x.*")), Some("day"), 0L))))
  }

  test("parses without-clause and transform chain") {
    val e = PromQL.parse("avg without (user_id) (abs(purchase))")
    assert(e == Agg("avg", None, Some(Seq("user_id")),
      Func("abs", Selector(Some("purchase"), Nil, None, 0L))))
  }

  test("parses numeric params, scalar binops, and param aggs") {
    assert(PromQL.parse("topk by (name) (3, purchase)") ==
      Agg("topk", Some(Seq("name")), None,
        Selector(Some("purchase"), Nil, None, 0L), Some(3.0)))
    assert(PromQL.parse("quantile_over_time(0.5, purchase[1d])") ==
      Func("quantile_over_time",
        Selector(Some("purchase"), Nil, Some("day"), 0L), Seq(0.5)))
    assert(PromQL.parse("holt_winters(purchase[1d], 0.3, 0.1)") ==
      Func("holt_winters",
        Selector(Some("purchase"), Nil, Some("day"), 0L), Seq(0.3, 0.1)))
    assert(PromQL.parse("purchase > 150") ==
      BinOp(">", Selector(Some("purchase"), Nil, None, 0L), 150.0))
    assert(PromQL.parse("2 * purchase") ==
      BinOp("*", Selector(Some("purchase"), Nil, None, 0L), 2.0,
        scalarLeft = true))
  }

  test("rejects malformed input") {
    intercept[ParseException](PromQL.parse("rate(purchase)"))      // no range
    intercept[ParseException](PromQL.parse("sum by name (x)"))     // missing parens
    intercept[ParseException](PromQL.parse("""x{label~"v"}"""))    // bad op
    intercept[ParseException](PromQL.parse("topk(purchase)"))      // missing k
    intercept[ParseException](PromQL.parse("holt_winters(purchase[1d], 0.3)")) // arity
    // a bare subquery is a range vector, not an instant query
    intercept[ParseException](
      PromQL.query(tsdb.Vectors.samples(Tables.events(spark, sf)),
        "purchase[3d:6h]"))
  }

  test("binary operators follow PromQL precedence and associativity") {
    val a = Selector(Some("a"), Nil, None, 0L)
    val b = Selector(Some("b"), Nil, None, 0L)
    val c = Selector(Some("c"), Nil, None, 0L)
    // equal precedence is LEFT-associative: a / b * 100 = (a / b) * 100
    assert(PromQL.parse("a / b * 100") ==
      BinOp("*", VecBin("/", a, b), 100.0))
    // * binds tighter than +: a + b * c = a + (b * c)
    assert(PromQL.parse("a + b * c") ==
      VecBin("+", a, VecBin("*", b, c)))
    // comparisons bind looser than arithmetic: a > b + c = a > (b + c)
    assert(PromQL.parse("a > b + c") ==
      VecBin(">", a, VecBin("+", b, c)))
    // ^ is right-associative and folds scalars: 2^3^2 = 2^(3^2) = 512
    assert(PromQL.parse("a * 2 ^ 3 ^ 2") == BinOp("*", a, 512.0))
    // set ops loosest: a and b or c = (a and b) or c
    assert(PromQL.parse("a and b or c") ==
      VecBin("or", VecBin("and", a, b), c))
    // unary minus on a vector
    assert(PromQL.parse("-a") == BinOp("-", a, 0.0, scalarLeft = true))
    // % and ^ with scalars
    assert(PromQL.parse("a ^ 2 % 7") ==
      BinOp("%", BinOp("^", a, 2.0), 7.0))
  }

  test("sliding [lookback:step] ranges parse and validate") {
    assert(PromQL.parse("rate(x[1d:6h])") ==
      Func("rate", Selector(Some("x"), Nil, None, 0L,
        sliding = Some((86400L, 21600L)))))
    assert(PromQL.parse("avg_over_time(x[2h:30m])") ==
      Func("avg_over_time", Selector(Some("x"), Nil, None, 0L,
        sliding = Some((7200L, 1800L)))))
    // irate has no sliding form in the engine
    intercept[ParseException](PromQL.parse("irate(x[1d:6h])"))
    // count_values needs its label string
    intercept[ParseException](PromQL.parse("count_values(purchase)"))
  }

  test("@ start()/end() and compound durations parse") {
    assert(PromQL.parse("x @ end()") ==
      Selector(Some("x"), Nil, None, 0L, at = Some(AtEnd)))
    assert(PromQL.parse("x @ start()") ==
      Selector(Some("x"), Nil, None, 0L, at = Some(AtStart)))
    assert(PromQL.parse("x @ 1704855600") ==
      Selector(Some("x"), Nil, None, 0L, at = Some(AtEpoch(1704855600L))))
    // compound tumbling range → sliding with step == lookback
    assert(PromQL.parse("sum_over_time(x[1h30m])") ==
      Func("sum_over_time", Selector(Some("x"), Nil, None, 0L,
        sliding = Some((5400L, 5400L)))))
    // a compound total equal to a calendar unit stays tumbling
    assert(PromQL.parse("sum_over_time(x[60m])") ==
      Func("sum_over_time", Selector(Some("x"), Nil, Some("hour"), 0L)))
    // compound durations in [lookback:step] and offset
    assert(PromQL.parse("rate(x[1d12h:1h30m]) ") ==
      Func("rate", Selector(Some("x"), Nil, None, 0L,
        sliding = Some((129600L, 5400L)))))
    assert(PromQL.parse("x offset 1d12h") ==
      Selector(Some("x"), Nil, None, 129600L))
    // negative offset looks forward (upstream accepts `offset -2m`)
    assert(PromQL.parse("x offset -1d") ==
      Selector(Some("x"), Nil, None, -86400L))
    assert(PromQL.parse("x offset -1d12h") ==
      Selector(Some("x"), Nil, None, -129600L))
    // a bare compound-range selector has no tumbling evaluation
    intercept[ParseException](PromQL.parse("x[1h30m]"))
    // quantile_over_time has no sliding form → compound range rejected
    intercept[ParseException](PromQL.parse("quantile_over_time(0.5, x[1h30m])"))
  }

  test("subqueries parse over function results; invalid forms rejected") {
    assert(PromQL.parse("max_over_time(rate(x[1d])[3d:6h])") ==
      Func("max_over_time",
        Subquery(Func("rate",
          Selector(Some("x"), Nil, Some("day"), 0L)), 259200L, 21600L)))
    // parenthesized body and compound durations in the subquery range
    assert(PromQL.parse("sum_over_time((rate(x[1d]))[1d12h:6h])") ==
      Func("sum_over_time",
        Subquery(Func("rate",
          Selector(Some("x"), Nil, Some("day"), 0L)), 129600L, 21600L)))
    // bare subquery: must be consumed by an *_over_time function
    intercept[ParseException](PromQL.parse("rate(x[1d])[3d:6h]"))
    // outer fn must accept range vectors of step values
    intercept[ParseException](PromQL.parse("abs(rate(x[1d])[3d:6h])"))
    // inner fn must be sliding-capable
    intercept[ParseException](PromQL.parse("max_over_time(irate(x[1d])[3d:6h])"))
    // nested subqueries unsupported
    intercept[ParseException](
      PromQL.parse("max_over_time(rate(x[1d:6h])[3d:6h])"))
    // lookback < step is LEGAL upstream (x[1h:6h]: each trailing 1h
    // window holds at most the current 6h step) — accepted since r12
    assert(PromQL.parse("max_over_time(rate(x[1d])[1h:6h])") ==
      Func("max_over_time",
        Subquery(Func("rate",
          Selector(Some("x"), Nil, Some("day"), 0L)), 3600L, 21600L)))
    // a subquery range without :step stays an error (not a selector range)
    intercept[ParseException](PromQL.parse("max_over_time(rate(x[1d])[3d])"))
    // aggregated body: sum(rate(...)) steps then windows
    assert(PromQL.parse("max_over_time(sum by (name) (rate(x[1d]))[3d:6h])") ==
      Func("max_over_time",
        Subquery(Agg("sum", Some(Seq("name")), None,
          Func("rate", Selector(Some("x"), Nil, Some("day"), 0L))),
          259200L, 21600L)))
    // ranked aggs produce per-row ranks, not step series → rejected
    intercept[ParseException](
      PromQL.parse("max_over_time(topk(3, rate(x[1d]))[3d:6h])"))
    // the full *_over_time outer family, incl. parameterized quantile
    assert(PromQL.parse("quantile_over_time(0.9, rate(x[1d])[3d:6h])") ==
      Func("quantile_over_time",
        Subquery(Func("rate",
          Selector(Some("x"), Nil, Some("day"), 0L)), 259200L, 21600L),
        Seq(0.9)))
    assert(PromQL.parse("stddev_over_time(rate(x[1d])[3d:6h])")
      .isInstanceOf[Func])
  }

  test("README example queries parse and evaluate") {
    val samples = tsdb.Vectors.samples(Tables.events(spark, sf))
    val qs = Seq(
      """rate({name="purchase"}[1d:6h])""",
      """histogram_quantile(0.9, {name="purchase"})""",
      """{name="purchase"} / scalar(purchase{user_id="7"} @ 1704855600)""")
    qs.foreach { q =>
      assert(PromQL.query(samples, q).limit(1).count() >= 0, q)
    }
    val gq = graft.graphite.GraphiteParser.query(samples,
      """holtWintersConfidenceBands(smartSummarize(events.purchase.*, "6h", "max"), 3)""")
    assert(gq.limit(1).count() >= 0)
    val mq = graft.m3ql.M3QL.query(samples,
      "hot = fetch name:* | sum name; hot | > 100 | log10")
    assert(mq.limit(1).count() >= 0)
  }

  test("vendored-upstream-engine registry diff: every function reachable") {
    // m3 embeds the upstream prometheus engine
    // (reference src/query/server/query.go:1380, vendored at
    // go.mod:50 = prometheus@2021-11-10 ≈ v2.31), so its FULL
    // function registry is reachable from an m3 deployment in
    // prom-engine mode. Diff: every v2.31 FunctionCalls name must
    // parse here in a minimal valid form. Names we expose BEYOND the
    // vendored engine (added upstream later): sort_by_label,
    // sort_by_label_desc (v2.46), day_of_year (v2.33).
    val v = """{name="x"}"""
    val r = s"$v[1d]"
    val calls = Seq(
      s"abs($v)", s"absent($v)", s"absent_over_time($r)",
      s"acos($v)", s"acosh($v)", s"asin($v)", s"asinh($v)",
      s"atan($v)", s"atanh($v)", s"avg_over_time($r)", s"ceil($v)",
      s"changes($r)", s"clamp($v, 1, 2)", s"clamp_max($v, 2)",
      s"clamp_min($v, 1)", s"cos($v)", s"cosh($v)",
      s"count_over_time($r)", s"days_in_month($v)",
      s"day_of_month($v)", s"day_of_week($v)", s"deg($v)",
      s"delta($r)", s"deriv($r)", s"exp($v)", s"floor($v)",
      s"histogram_quantile(0.9, $v)", s"holt_winters($r, 0.5, 0.5)",
      s"hour($v)", s"idelta($r)", s"increase($r)", s"irate($r)",
      s"""label_join($v, "dst", "-", "name")""",
      s"""label_replace($v, "dst", "$$1", "name", "(.*)")""",
      s"last_over_time($r)", s"ln($v)", s"log10($v)", s"log2($v)",
      s"max_over_time($r)", s"min_over_time($r)", s"minute($v)",
      s"month($v)", s"$v * pi()", s"predict_linear($r, 3600)",
      s"present_over_time($r)", s"quantile_over_time(0.9, $r)",
      s"rad($v)", s"rate($r)", s"resets($r)", s"round($v)",
      s"round($v, 5)", s"scalar($v)", s"sgn($v)", s"sin($v)",
      s"sinh($v)", s"sort($v)", s"sort_desc($v)", s"sqrt($v)",
      s"stddev_over_time($r)", s"stdvar_over_time($r)",
      s"sum_over_time($r)", s"tan($v)", s"tanh($v)", "time()",
      s"timestamp($v)", "vector(1)", s"year($v)",
      // aggregators (incl. the upstream stdvar name) + atan2 infix
      s"sum($v)", s"avg($v)", s"min($v)", s"max($v)", s"count($v)",
      s"group($v)", s"stddev($v)", s"stdvar($v)",
      s"topk(3, $v)", s"bottomk(3, $v)", s"quantile(0.9, $v)",
      s"""count_values("l", $v)""", s"$v atan2 2",
      // the beyond-vendored extras
      s"""sort_by_label($v, "name")""",
      s"""sort_by_label_desc($v, "name")""", s"day_of_year($v)")
    val failed = calls.flatMap { q =>
      try { PromQL.parse(q); None }
      catch { case e: Exception => Some(s"$q -> ${e.getMessage}") }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("upstream-engine tail: parse forms, folding, arity errors") {
    // pi() folds to a scalar literal; atan2 folds between literals
    assert(PromQL.parse("""{name="x"} * pi()""") match {
      case BinOp("*", _, s, false, false) => s == math.Pi
      case _ => false
    })
    assert(PromQL.parse("""{name="x"} atan2 2""") match {
      case BinOp("atan2", _, 2.0, false, false) => true
      case _ => false
    })
    // atan2 sits at multiplicative precedence: a + b atan2 c parses
    // as a + (b atan2 c)
    assert(PromQL.parse("""{name="a"} + {name="b"} atan2 2""") match {
      case VecBin("+", _, BinOp("atan2", _, 2.0, _, _), _, _, _, _, _) => true
      case _ => false
    })
    intercept[ParseException](PromQL.parse("""clamp({name="x"}, 1)"""))
    intercept[ParseException](
      PromQL.parse("""sort_by_label({name="x"})""")) // needs >=1 label
    intercept[ParseException](
      PromQL.parse("""absent_over_time({name="x"})""")) // needs a range
    // group parses as an aggregation with clauses
    assert(PromQL.parse("""group by (name) ({name=~"a|b"})""") match {
      case Agg("group", Some(Seq("name")), None, _, None, None) => true
      case _ => false
    })
  }

  test("upstream-engine tail: evaluation semantics") {
    import org.apache.spark.sql.functions._
    val samples = tsdb.Vectors.samples(Tables.events(spark, sf))
    // hyperbolics + inverses round-trip (no DuckDB hyperbolics, so
    // oracle-free exact check here): atanh(tanh(x)) == x to 9dp and
    // asinh(sinh(x)) == x to 9dp over real sample values scaled small
    val roundtrip = PromQL.query(samples,
      """atanh(tanh({name="click"} / 1000)) - {name="click"} / 1000""")
      .agg(max(abs(col("value")))).collect()(0).getDouble(0)
    assert(roundtrip < 1e-9, s"atanh∘tanh drift $roundtrip")
    val roundtrip2 = PromQL.query(samples,
      """asinh(sinh({name="click"} / 1000)) - {name="click"} / 1000""")
      .agg(max(abs(col("value")))).collect()(0).getDouble(0)
    assert(roundtrip2 < 1e-9, s"asinh∘sinh drift $roundtrip2")
    // acosh(cosh(x)) == |x|
    val roundtrip3 = PromQL.query(samples,
      """acosh(cosh({name="click"} / 1000)) - {name="click"} / 1000""")
      .agg(max(abs(col("value")))).collect()(0).getDouble(0)
    assert(roundtrip3 < 1e-6, s"acosh∘cosh drift $roundtrip3")
    // two-sided clamp: min > max yields the empty vector (upstream
    // functions.go funcClamp)
    assert(PromQL.query(samples,
      """clamp({name="click"}, 5, 1)""").count() == 0)
    // sort_by_label compares labels AS STRINGS: "10" < "2"
    val ranked = PromQL.query(samples,
      """sort_by_label(sum by (user_id) ({name="purchase"}), "user_id")""")
      .select("user_id", "sort_rank").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (ranked.contains(10L) && ranked.contains(2L))
      assert(ranked(10L) < ranked(2L), "string ordering: '10' < '2'")
    // group emits 1.0 per present group
    val g = PromQL.query(samples, """group by (name) ({name="purchase"})""")
      .select("value").distinct().collect().map(_.getDouble(0)).toSeq
    assert(g == Seq(1.0))
    // absent_over_time of an always-present selector is empty
    assert(PromQL.query(samples,
      """absent_over_time({name="purchase"}[1d])""").count() == 0)
  }

  test("rangeQuery parity: epoch-aligned grid reproduces the sliding op") {
    import org.apache.spark.sql.functions.col
    val samples = tsdb.Vectors.samples(Tables.events(spark, sf))
    // grid aligned with rateSliding's epoch-aligned window ends
    // (lb 1d, step 6h): the two evaluations must agree EXACTLY —
    // same right-closed µs bounds, same extrapolation, same rounding
    val (startS, endS, stepS) = (1704240000L, 1706313600L, 21600L)
    val viaRange = PromQL.rangeQuery(samples,
      """rate({name=~".*"}[1d])""", startS, endS, stepS)
      .collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("user_id"),
        r.getAs[Long]("bucket_s")) -> r.getAs[Double]("value")).toMap
    assert(viaRange.nonEmpty)
    val viaSliding = tsdb.Temporal.rateSliding(samples, rightClosed = true)
      .where(col("bucket_s").between(startS, endS) &&
        col("rate_v").isNotNull)
      .collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("user_id"),
        r.getAs[Long]("bucket_s")) -> r.getAs[Double]("rate_v")).toMap
    assert(viaRange.keySet == viaSliding.keySet,
      s"instant sets differ: ${viaRange.keySet.diff(viaSliding.keySet).take(3)}" +
        s" / ${viaSliding.keySet.diff(viaRange.keySet).take(3)}")
    for ((k, v) <- viaRange)
      assert(v == viaSliding(k), s"$k: range $v vs sliding ${viaSliding(k)}")
  }

  test("rangeQuery: instant-vector staleness and grid clipping") {
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.col
    // two series; one goes stale after t=100
    val samples = Seq(
      ("m", 1L, 95L, 1.0, 1L), ("m", 1L, 205L, 2.0, 2L),
      ("m", 2L, 95L, 10.0, 3L)
    ).toDF("name", "user_id", "tss", "value", "event_id")
      .select(col("name"), col("user_id"),
        org.apache.spark.sql.functions.timestamp_seconds(col("tss")).as("ts"),
        col("value"), col("event_id"))
    val r = PromQL.rangeQuery(samples, "{name=\"m\"}", 100L, 300L, 100L,
      lookbackS = 60L)
      .collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[Long]("bucket_s")) ->
        x.getAs[Double]("value")).toMap
    // T=100: both series fresh (95 ∈ (40,100]); T=200: both stale;
    // T=300: only series 1's 205 is... stale too (205 ∉ (240,300])
    assert(r == Map((1L, 100L) -> 1.0, (2L, 100L) -> 10.0))
    // wider lookback picks up the late point at the right instants
    val r2 = PromQL.rangeQuery(samples, "{name=\"m\"}", 100L, 300L, 100L,
      lookbackS = 120L)
      .collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[Long]("bucket_s")) ->
        x.getAs[Double]("value")).toMap
    // T=200 window (80, 200] now holds both ts=95 points; T=300
    // window (180, 300] holds only series 1's 205
    assert(r2 == Map((1L, 100L) -> 1.0, (2L, 100L) -> 10.0,
      (1L, 200L) -> 1.0, (2L, 200L) -> 10.0, (1L, 300L) -> 2.0))
  }

  test("rangeQuery @: step-invariant pin repeats across the grid") {
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.col
    val samples = Seq(
      ("m", 1L, 50L, 1.0, 1L), ("m", 1L, 150L, 3.0, 2L),
      ("m", 1L, 250L, 5.0, 3L)
    ).toDF("name", "user_id", "tss", "value", "event_id")
      .select(col("name"), col("user_id"),
        org.apache.spark.sql.functions.timestamp_seconds(col("tss")).as("ts"),
        col("value"), col("event_id"))
    // @ end(): sum over (200, 300] = 5.0, repeated at EVERY instant
    val r = PromQL.rangeQuery(samples,
      """sum_over_time({name="m"}[100s] @ end())""", 100L, 300L, 100L)
      .collect()
      .map(x => x.getAs[Long]("bucket_s") -> x.getAs[Double]("value"))
      .toMap
    assert(r == Map(100L -> 5.0, 200L -> 5.0, 300L -> 5.0), r.toString)
    // @ start(): (0, 100] = 1.0 everywhere
    val r2 = PromQL.rangeQuery(samples,
      """sum_over_time({name="m"}[100s] @ start())""", 100L, 300L, 100L)
      .collect()
      .map(x => x.getAs[Long]("bucket_s") -> x.getAs[Double]("value"))
      .toMap
    assert(r2 == Map(100L -> 1.0, 200L -> 1.0, 300L -> 1.0), r2.toString)
    // @ epoch pins an arbitrary instant; the unpinned form still
    // varies by instant ((0,100]=1, (100,200]=3, (200,300]=5)
    val r3 = PromQL.rangeQuery(samples,
      """sum_over_time({name="m"}[100s] @ 200)""", 100L, 300L, 100L)
      .collect().map(_.getAs[Double]("value")).distinct.toSeq
    assert(r3 == Seq(3.0), r3.toString)
    val free = PromQL.rangeQuery(samples,
      """sum_over_time({name="m"}[100s])""", 100L, 300L, 100L)
      .collect()
      .map(x => x.getAs[Long]("bucket_s") -> x.getAs[Double]("value"))
      .toMap
    assert(free == Map(100L -> 1.0, 200L -> 3.0, 300L -> 5.0), free.toString)
  }

  test("rangeQuery subquery parity: aligned grid reproduces the batch form") {
    import org.apache.spark.sql.functions.col
    val samples = tsdb.Vectors.samples(Tables.events(spark, sf))
    val q = """max_over_time(sum by (name) (rate({name=~"(pur|cli).*"}[1d]))[3d:6h])"""
    // the batch subquery evaluates the outer window at every inner
    // step instant; a range query whose grid IS those step instants
    // (start aligned to the 6h step) must agree exactly — same inner
    // stepped frame, same right-closed trailing-3d window
    val (startS, endS, stepS) = (1704240000L, 1706313600L, 21600L)
    require(startS % 21600 == 0)
    val viaRange = PromQL.rangeQuery(samples, q, startS, endS, stepS)
      .collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("bucket_s")) ->
        r.getAs[Double]("value")).toMap
    assert(viaRange.nonEmpty)
    val viaBatch = PromQL.query(samples, q)
      .where(col("bucket_s").between(startS, endS))
      .collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("bucket_s")) ->
        r.getAs[Double]("value")).toMap
    assert(viaRange.keySet == viaBatch.keySet,
      s"instant sets differ: ${viaRange.keySet.diff(viaBatch.keySet).take(3)}" +
        s" / ${viaBatch.keySet.diff(viaRange.keySet).take(3)}")
    for ((k, v) <- viaRange)
      assert(v == viaBatch(k), s"$k: range $v vs batch ${viaBatch(k)}")
  }

  test("rangeQuery: grid-correct timestamp and histogram_quantile") {
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.col
    val mk = (rows: Seq[(String, Long, Long, Double, Long)]) =>
      rows.toDF("name", "user_id", "tss", "value", "event_id")
        .select(col("name"), col("user_id"),
          org.apache.spark.sql.functions.timestamp_seconds(col("tss")).as("ts"),
          col("value"), col("event_id"))
    // timestamp(): the LAST in-window sample's epoch seconds per T —
    // NOT the batch per-sample shape (the r11 fallthrough)
    val tsFrame = mk(Seq(
      ("m", 1L, 95L, 1.0, 1L), ("m", 1L, 180L, 2.0, 2L)))
    val r = PromQL.rangeQuery(tsFrame, """timestamp({name="m"})""",
      100L, 300L, 100L, lookbackS = 120L)
      .collect()
      .map(x => x.getAs[Long]("bucket_s") -> x.getAs[Double]("value")).toMap
    // T=100 window (−20,100] → last ts 95; T=200 (80,200] → 180;
    // T=300 (180,300] → empty (180 excluded: right-closed lower bound)
    assert(r == Map(100L -> 95.0, 200L -> 180.0), r.toString)
    // histogram_quantile(): synthesized-le interpolation over the
    // staleness-window instant vector, per grid instant
    val hq = mk(Seq(
      ("m", 1L, 95L, 5.0, 1L), ("m", 2L, 95L, 20.0, 2L),
      ("m", 3L, 95L, 40.0, 3L), ("m", 4L, 95L, 120.0, 4L)))
    val r2 = PromQL.rangeQuery(hq, """histogram_quantile(0.5, {name="m"})""",
      100L, 200L, 100L, lookbackS = 60L)
      .collect()
      .map(x => x.getAs[Long]("bucket_s") -> x.getAs[Double]("value")).toMap
    // T=100: values {5,20,40,120} → cum le-buckets (10:1)(25:2)(50:3)
    // (150:4), q_rank=2 → le=25: 10 + 15·(2−1)/(2−1) = 25; T=200 stale
    assert(r2 == Map(100L -> 25.0), r2.toString)
    // a top-level range selector is rejected in range mode (upstream
    // "expression type range vector"), not silently de-ranged
    intercept[ParseException](
      PromQL.rangeQuery(tsFrame, """{name="m"}[1d]""", 100L, 300L, 100L))
  }

  test("rangeQuery wide windows: struct ordering key past the packed bound") {
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.col
    // 2d range > 2^37 µs: the packed ordKey would overflow and could
    // mis-order first/last; the struct fallback must stay exact
    val samples = Seq(
      ("m", 1L, 100L, 5.0, 1L), ("m", 1L, 86400L, 3.0, 2L),
      ("m", 1L, 172700L, 9.0, 3L)
    ).toDF("name", "user_id", "tss", "value", "event_id")
      .select(col("name"), col("user_id"),
        org.apache.spark.sql.functions.timestamp_seconds(col("tss")).as("ts"),
        col("value"), col("event_id"))
    val last = PromQL.rangeQuery(samples,
      """last_over_time({name="m"}[2d])""", 172800L, 172800L, 100L)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(last == Seq(9.0), last.toString)
    // delta uses min_by/max_by over the same key: last−first
    // extrapolated; with full-window coverage ≈ (9−5)·extrap — just
    // pin that first/last resolve in timestamp order (positive delta)
    val d = PromQL.rangeQuery(samples,
      """delta({name="m"}[2d])""", 172800L, 172800L, 100L)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(d.length == 1 && d.head > 0, d.toString)
  }

  test("rangeQuery temporal tail: irate/idelta, resets/changes, linreg, HW, absent_over_time") {
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.col
    val samples = Seq(
      ("m", 1L, 100L, 1.0, 1L), ("m", 1L, 200L, 3.0, 2L),
      ("m", 1L, 250L, 2.0, 3L)
    ).toDF("name", "user_id", "tss", "value", "event_id")
      .select(col("name"), col("user_id"),
        org.apache.spark.sql.functions.timestamp_seconds(col("tss")).as("ts"),
        col("value"), col("event_id"))
    def one(q: String, startS: Long = 300L, endS: Long = 300L,
            stepS: Long = 100L): Map[Long, Double] =
      PromQL.rangeQuery(samples, q, startS, endS, stepS)
        .collect()
        .map(x => x.getAs[Long]("bucket_s") -> x.getAs[Double]("value"))
        .toMap
    // window (0, 300]: last two samples are (200, 3.0) and (250, 2.0)
    assert(one("""idelta({name="m"}[300s])""") == Map(300L -> -1.0))
    assert(one("""irate({name="m"}[300s])""") == Map(300L -> -0.02))
    // window (240, 300]: only 250 inside; its predecessor (200) is
    // OUT of the window → empty vector, not a cross-window pair
    assert(one("""irate({name="m"}[1m])""").isEmpty)
    // pairs with both ends in-window: (100→200 change), (200→250
    // reset+change) in (0,300]; only the reset pair in (190,300]
    assert(one("""resets({name="m"}[300s])""") == Map(300L -> 1.0))
    assert(one("""changes({name="m"}[300s])""") == Map(300L -> 2.0))
    assert(one("""resets({name="m"}[110s])""") == Map(300L -> 1.0))
    assert(one("""changes({name="m"}[110s])""") == Map(300L -> 1.0))
    // least squares over window-relative t ∈ {100, 200, 250}:
    // slope = covar/var; predict at rangeS + horizon
    val xs = Seq(100.0, 200.0, 250.0); val ys = Seq(1.0, 3.0, 2.0)
    val (mx, my) = (xs.sum / 3, ys.sum / 3)
    val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
    val d = one("""deriv({name="m"}[300s])""")
    assert(math.abs(d(300L) - slope) < 1e-9, s"deriv ${d(300L)} vs $slope")
    val p = one("""predict_linear({name="m"}[300s], 60)""")
    val expectP = my + slope * ((300.0 + 60.0) - mx)
    assert(math.abs(p(300L) - expectP) < 1e-6, s"predict ${p(300L)} vs $expectP")
    // holt_winters over the same window equals the batch fold on the
    // same three points: s0=v1=3, b0=v1−v0=2;
    // s1=.5·2+.5·(3+2)=3.5, b1=.3·(3.5−3)+.7·2=1.55 → value 3.5
    val hw = one("""holt_winters({name="m"}[300s], 0.5, 0.3)""")
    assert(hw == Map(300L -> 3.5), hw.toString)
    // absent_over_time: (40,100] has a sample → no row at 100;
    // (140,200] is empty… wait, 200 has one — use a name that
    // matches nothing for the always-absent case
    val a = PromQL.rangeQuery(samples,
      """absent_over_time({name="nope"}[1m])""", 100L, 300L, 100L)
      .collect().map(_.getAs[Long]("bucket_s")).toSet
    assert(a == Set(100L, 200L, 300L))
    val a2 = PromQL.rangeQuery(samples,
      """absent_over_time({name="m"}[1m])""", 100L, 300L, 100L)
      .collect().map(_.getAs[Long]("bucket_s")).toSet
    // (40,100] holds 100; (140,200] holds 200; (240,300] holds 250
    assert(a2.isEmpty, a2.toString)
  }

  test("subquery offset/@ modifiers: parse, shift, and pin") {
    import org.apache.spark.sql.functions.col
    // upstream SubqueryExpr carries its own offset/@ (either order)
    val e = PromQL.parse(
      """max_over_time(rate(x[1d])[3d:6h] offset 1d @ end())""")
    assert(e == Func("max_over_time",
      Subquery(Func("rate", Selector(Some("x"), Nil, Some("day"), 0L)),
        259200L, 21600L, 86400L, Some(AtEnd))))
    val samples = tsdb.Vectors.samples(Tables.events(spark, sf))
    val q = """max_over_time(sum by (name) (rate({name=~"(pur|cli).*"}[1d]))[3d:6h]"""
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("bucket_s")) ->
        r.getAs[Double]("value")).toMap
    // two separate jobs may associate the cross-series sum
    // differently — compare at the gate's 1e-9 rounding, not raw ulps
    def assertShifted(a: Map[(String, Long), Double],
                      b: Map[(String, Long), Double], offS: Long): Unit = {
      val bShift = b.map { case ((n, t), v) => (n, t + offS) -> v }
      assert(a.nonEmpty && a.keySet == bShift.keySet,
        s"keys: ${a.keySet.diff(bShift.keySet).take(3)} / " +
          s"${bShift.keySet.diff(a.keySet).take(3)}")
      for ((k, v) <- a)
        assert(math.abs(v - bShift(k)) < 1e-9, s"$k: $v vs ${bShift(k)}")
    }
    // batch offset ≡ the unshifted result re-stamped one day forward
    assertShifted(toMap(PromQL.query(samples, q + " offset 1d)")),
      toMap(PromQL.query(samples, q + ")")), 86400L)
    // range-mode offset: instant T equals the unshifted T−1d
    val (startS, endS, stepS) = (1704412800L, 1706313600L, 21600L)
    assertShifted(
      toMap(PromQL.rangeQuery(samples, q + " offset 1d)", startS, endS, stepS)),
      toMap(PromQL.rangeQuery(samples, q + ")",
        startS - 86400L, endS - 86400L, stepS)), 86400L)
    // range-mode @ end(): one pinned window repeated at every instant
    val rAt = PromQL.rangeQuery(samples, q + " @ end())",
      startS, endS, stepS)
    val perName = rAt.groupBy("name")
      .agg(org.apache.spark.sql.functions.countDistinct(col("value")).as("nv"),
        org.apache.spark.sql.functions.count(col("value")).as("n"))
      .collect().map(r => (r.getAs[Long]("nv"), r.getAs[Long]("n")))
    val nGrid = (endS - startS) / stepS + 1
    assert(perName.nonEmpty &&
      perName.forall { case (nv, n) => nv == 1 && n == nGrid }, perName.toSeq)
    // batch @ pins the last step-aligned instant ≤ T
    val bAt = PromQL.query(samples, q + " @ 1705000000)")
      .select("bucket_s").distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(bAt == Seq(1705000000L - 1705000000L % 21600L), bAt.toString)
  }

  test("range sweep equals a brute-force per-instant reference") {
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    // (user_id, µs, value, event_id) — crafted series:
    //  1: equal timestamps, resolved by event_id
    //  2: a counter whose reset pair (10 → 4) straddles the lower
    //     window edge of some instants
    //  3: one sample per hour-window (single-sample windows) and
    //     hour-long gaps (empty windows)
    //  4: samples before start − R, and one exactly on it
    //  5: a seeded random counter with resets, sub-second offsets and
    //     ts ties
    val s = 1000000L
    val rnd = new scala.util.Random(7)
    var c5 = 0.0
    val series5 = (0 until 80).map { i =>
      c5 = if (rnd.nextInt(9) == 0) rnd.nextInt(5).toDouble
           else c5 + rnd.nextInt(40)
      (5L, (rnd.nextInt(200000).toLong * s) / 10 + (if (i % 7 == 0) 0L else rnd.nextInt(999999)),
        c5, 500L + i)
    } ++ Seq((5L, 7000L * s, 3.0, 600L), (5L, 7000L * s, 1.0, 599L))
    val raw: Seq[(Long, Long, Double, Long)] = Seq(
      (1L, 5000L * s, 5.0, 11L), (1L, 5000L * s, 2.0, 10L),
      (1L, 6500L * s, 7.0, 12L), (1L, 6500L * s, 1.0, 13L),
      (1L, 9000L * s, 4.0, 14L), (1L, 11000L * s, 4.0, 15L),
      (2L, 3599L * s, 10.0, 20L), (2L, 3601L * s, 4.0, 21L),
      (2L, 7300L * s, 6.0, 22L), (2L, 7400L * s, 5.0, 23L),
      (2L, 10100L * s, 8.0, 24L),
      (3L, 500L * s, 1.0, 30L), (3L, 9000L * s, 2.0, 31L),
      (3L, 16000L * s, 3.0, 32L),
      (4L, 50L * s, 9.5, 39L), (4L, 100L * s, 9.0, 40L),
      (4L, 3600L * s, 8.0, 41L),
      (4L, 7000L * s + 1, 7.0, 42L)) ++ series5
    val samples = rnd.shuffle(raw)
      .toDF("user_id", "us", "value", "event_id")
      .select(org.apache.spark.sql.functions.lit("m").as("name"),
        col("user_id"), timestamp_micros(col("us")).as("ts"), col("value"),
        col("event_id"))

    def secondOf(us: Long) = Math.floorDiv(us, s)
    // Prometheus extrapolatedRate (promql/functions.go), written out
    // as upstream does it
    def extrapolated(w: Seq[(Long, Double)], lo: Long, hi: Long,
                     counter: Boolean, isRate: Boolean): Option[Double] = {
      if (w.size < 2) return None
      val (first, last) = (w.head, w.last)
      val sampled = (last._1 - first._1) / 1e6
      if (sampled <= 0) return None
      var result = last._2 - first._2
      if (counter) w.sliding(2).foreach { case Seq(a, b) =>
        if (b._2 < a._2) result += a._2 }
      val avgGap = sampled / (w.size - 1)
      var toStart = first._1 / 1e6 - lo
      val toEnd = hi - last._1 / 1e6
      if (counter && result > 0 && first._2 >= 0)
        toStart = math.min(toStart, sampled * (first._2 / result))
      val thr = avgGap * 1.1
      val interval = sampled +
        (if (toStart < thr) toStart else avgGap / 2) +
        (if (toEnd < thr) toEnd else avgGap / 2)
      result *= interval / sampled
      Some(if (isRate) result / (hi - lo) else result)
    }
    // the function's definition over one window, sorted by
    // (ts, event_id): (µs, value) pairs of (T − R, T]
    def define(fn: String, ps: Seq[Double], w: Seq[(Long, Double)],
               tS: Long, rangeS: Long): Option[Double] = {
      val vs = w.map(_._2)
      def pairs = w.sliding(2).collect { case Seq(a, b) => (a._2, b._2) }.toSeq
      def varPop = { val m = vs.sum / vs.size; vs.map(x => (x - m) * (x - m)).sum / vs.size }
      fn match {
        case "rate"     => extrapolated(w, tS - rangeS, tS, counter = true, isRate = true)
        case "increase" => extrapolated(w, tS - rangeS, tS, counter = true, isRate = false)
        case "delta"    => extrapolated(w, tS - rangeS, tS, counter = false, isRate = false)
        case "irate" | "idelta" if w.size >= 2 =>
          val (a, b) = (w(w.size - 2), w.last)
          val dt = secondOf(b._1) - secondOf(a._1)
          if (fn == "idelta") Some(b._2 - a._2)
          else if (dt == 0) None else Some((b._2 - a._2) / dt)
        case "irate" | "idelta" => None
        case "resets"  => Some(pairs.count { case (a, b) => b < a }.toDouble)
        case "changes" => Some(pairs.count { case (a, b) => b != a }.toDouble)
        case "deriv" | "predict_linear" =>
          val ts = w.map(p => (secondOf(p._1) - (tS - rangeS)).toDouble)
          val (mt, mv) = (ts.sum / ts.size, vs.sum / vs.size)
          val sxx = ts.map(t => (t - mt) * (t - mt)).sum
          val sxy = ts.zip(vs).map { case (t, v) => (t - mt) * (v - mv) }.sum
          if (sxx == 0) None
          else if (fn == "deriv") Some(sxy / sxx)
          else Some(mv + sxy / sxx * (rangeS + ps.head - mt))
        case "holt_winters" if w.size >= 2 =>
          var (lvl, tr) = (vs(1), vs(1) - vs(0))
          vs.drop(2).foreach { v =>
            val l1 = ps(0) * v + (1 - ps(0)) * (lvl + tr)
            tr = ps(1) * (l1 - lvl) + (1 - ps(1)) * tr
            lvl = l1
          }
          Some(lvl)
        case "holt_winters" => None
        case "sum_over_time"   => Some(vs.sum)
        case "avg_over_time"   => Some(vs.sum / vs.size)
        case "min_over_time"   => Some(vs.min)
        case "max_over_time"   => Some(vs.max)
        case "count_over_time" => Some(vs.size.toDouble)
        case "last_over_time"  => Some(vs.last)
        case "present_over_time" => Some(1.0)
        case "stddev_over_time" => Some(math.sqrt(varPop))
        case "stdvar_over_time" => Some(varPop)
        case "quantile_over_time" =>
          val x = vs.sorted
          val rank = ps.head * (x.size - 1)
          val lo = rank.floor.toInt
          val hi = math.min(lo + 1, x.size - 1)
          Some(x(lo) * (1 - (rank - lo)) + x(hi) * (rank - lo))
        case "timestamp" => Some(w.last._1 / 1e6)
      }
    }
    val bySeries = raw.groupBy(_._1).map { case (u, rows) =>
      u -> rows.sortBy(r => (r._2, r._4)).map(r => (r._2, r._3)) }
    // every series' value at every grid instant; `pin` evaluates each
    // instant's window at the pinned T instead, `offS` re-stamps the
    // samples offS later
    def reference(fn: String, ps: Seq[Double], rangeS: Long,
                  grid: Seq[Long], pin: Option[Long] = None,
                  offS: Long = 0L): Map[(Long, Long), Double] =
      (for {
        (u, pts) <- bySeries.toSeq
        t <- grid
        at = pin.getOrElse(t)
        w = pts.map(p => (p._1 + offS * s, p._2))
          .filter(p => p._1 > (at - rangeS) * s && p._1 <= at * s)
        if w.nonEmpty
        v <- define(fn, ps, w, at, rangeS)
      } yield (u, t) -> v).toMap
    def got(q: String, start: Long, end: Long, step: Long,
            lookback: Long = 300L): Map[(Long, Long), Double] =
      PromQL.rangeQuery(samples, q, start, end, step, lookback).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("bucket_s")) ->
          r.getAs[Double]("value")).toMap
    def check(q: String, want: Map[(Long, Long), Double],
              start: Long, end: Long, step: Long, lookback: Long = 300L): Unit = {
      val g = got(q, start, end, step, lookback)
      assert(want.nonEmpty, s"$q: the reference is empty")
      assert(g.keySet == want.keySet,
        s"$q: instants only in the sweep ${(g.keySet -- want.keySet).take(4)}," +
          s" only in the reference ${(want.keySet -- g.keySet).take(4)}")
      for ((k, v) <- want)
        assert(math.abs(g(k) - v) <= 1e-6 * math.max(1.0, math.abs(v)),
          s"$q $k: sweep ${g(k)} vs reference $v")
    }
    val fns: Seq[(String, Seq[Double], String => String)] = Seq(
      "rate", "increase", "delta", "irate", "idelta", "resets", "changes",
      "deriv", "sum_over_time", "avg_over_time", "min_over_time",
      "max_over_time", "count_over_time", "last_over_time",
      "present_over_time", "stddev_over_time", "stdvar_over_time"
    ).map(f => (f, Seq.empty[Double], (r: String) => s"$f($r)")) ++ Seq(
      ("predict_linear", Seq(60.0), (r: String) => s"predict_linear($r, 60)"),
      ("holt_winters", Seq(0.5, 0.3), (r: String) => s"holt_winters($r, 0.5, 0.3)"),
      ("quantile_over_time", Seq(0.3), (r: String) => s"quantile_over_time(0.3, $r)"))
    // an hour at a 100 s step (36 instants per window), and two days
    // — a window past 2³⁷ µs ≈ 38 h, where a (µs offset · 2²⁶ +
    // event_id) ordering key would overflow
    for ((rangeS, dur, start, end, step) <- Seq(
           (3600L, "1h", 3700L, 21000L, 100L),
           (172800L, "2d", 7000L, 30000L, 1000L))) {
      val grid = start to end by step
      for ((fn, ps, q) <- fns)
        check(q(s"m[$dur]"), reference(fn, ps, rangeS, grid), start, end, step)
    }
    val grid = 3700L to 21000L by 100L
    // rate, irate and deriv need two samples: series 3's windows hold
    // one, so it never appears
    assert(!got("rate(m[1h])", 3700L, 21000L, 100L).keys.exists(_._1 == 3L))
    // the modifiers: offset re-stamps the samples, @ pins the window
    check("rate(m[1h] offset 10m)",
      reference("rate", Nil, 3600L, grid, offS = 600L), 3700L, 21000L, 100L)
    check("sum_over_time(m[1h] @ end())",
      reference("sum_over_time", Nil, 3600L, grid, pin = Some(21000L)),
      3700L, 21000L, 100L)
    // the instant vector (last sample in the lookback) and timestamp()
    check("m", reference("last_over_time", Nil, 600L, grid), 3700L, 21000L, 100L, 600L)
    check("timestamp(m)", reference("timestamp", Nil, 600L, grid),
      3700L, 21000L, 100L, 600L)
    // absent_over_time: the instants where no series has a sample
    val present = reference("present_over_time", Nil, 600L, grid).keySet.map(_._2)
    val absent = PromQL.rangeQuery(samples, "absent_over_time(m[10m])",
      3700L, 21000L, 100L).collect().map(_.getAs[Long]("bucket_s")).toSet
    assert(absent.nonEmpty && absent == grid.toSet -- present)
  }

  test("gap windows: sliding evaluation with step > lookback") {
    // Spark's window() can't express slide > duration, but PromQL
    // can: rate(x[1h])[12h:6h] samples a 1h window every 6h with
    // gaps between windows. The generalized assignment (Temporal
    // .withSlidingW: tumbling step cells + trailing-lookback filter)
    // must keep ONLY the samples in the last hour before each
    // step-aligned instant.
    val s0 = spark
    import s0.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_seconds}
    val samples = Seq(
      ("m", 1L, 3000L, 16.0, 1L),   // cell 1, outside trailing hour
      ("m", 1L, 17999L, 8.0, 2L),   // 1 s before the trailing hour
      ("m", 1L, 18001L, 1.0, 3L),   // inside (18000, 21600]
      ("m", 1L, 21599L, 2.0, 4L),   // inside
      ("m", 1L, 21600L, 4.0, 5L)    // ON the instant: right-closed in
    ).toDF("name", "user_id", "tss", "value", "event_id")
      .select(col("name"), col("user_id"),
        timestamp_seconds(col("tss")).as("ts"), col("value"),
        col("event_id"))
    // primitive: right-closed (T−1h, T] at 6h instants
    val agg = tsdb.Temporal.overTimeAggsSliding(samples,
      lookbackS = 3600L, stepS = 21600L, rightClosed = true)
      .collect().map(r => r.getAs[Long]("bucket_s") ->
        (r.getAs[Double]("sum_v"), r.getAs[Long]("count_v"))).toMap
    assert(agg == Map(21600L -> ((7.0, 3L))),
      s"expected only instant 21600 with the trailing-hour samples: $agg")
    // end-to-end at the range door: the sparse subquery. The inner
    // evaluation uses the engine's CANONICAL left-closed bound
    // [T−1h, T) (the oracle-mirrored default; rightClosed is the
    // opt-in Prometheus bound-parity mode), so
    // count_over_time(m[1h]) at epoch-aligned 6h steps emits only
    // (21600 → 2): samples 18001 and 21599; the sample ON the
    // instant falls to the NEXT cell and ages past its trailing
    // hour. The outer *_over_time windows the inner step frame with
    // the right-closed (T−12h, T] subquery bound, so the step shows
    // at T = 21600 and 43200, then ages out at 64800.
    val r = PromQL.rangeQuery(samples,
      "max_over_time(count_over_time(m[1h])[12h:6h])",
      21600L, 86400L, 21600L)
      .collect().map(x => x.getAs[Long]("bucket_s") ->
        x.getAs[Double]("value")).toMap
    assert(r == Map(21600L -> 2.0, 43200L -> 2.0), s"got $r")
    // the inverse ratio — subquery lookback SHORTER than its step
    // ([1h:6h], legal upstream, accepted since r12): each trailing
    // (T−1h, T] window over the 6h step grid holds exactly the
    // current step, so the outer max is the identity on the stepped
    // inner values. Inner sum_over_time(m[6h]) at 6h steps:
    // [0, 21600) → 16+8+1+2 = 27, [21600, 43200) → 4.
    val inv = PromQL.query(samples,
      "max_over_time(sum_over_time(m[6h])[1h:6h])")
      .collect().map(x => x.getAs[Long]("bucket_s") ->
        x.getAs[Double]("value")).toMap
    assert(inv == Map(21600L -> 27.0, 43200L -> 4.0), s"got $inv")
  }

  test("end-to-end: rate sum equals API composition") {
    val samples = tsdb.Vectors.samples(Tables.events(spark, sf))
    val viaPql = PromQL.query(samples,
      """sum by (name) (rate(purchase[1d]))""").collect()
    val viaApi = tsdb.Temporal.rateFrame(
      Fetch(samples, Seq(Fetch.Matcher("name", Fetch.Eq, "purchase"))))
      .groupBy("name", "bucket_s")
      .agg(org.apache.spark.sql.functions.sum("rate_v").as("value"))
      .collect()
    assert(viaPql.map(r => (r.getAs[String]("name"), r.getAs[Long]("bucket_s"),
      r.getAs[Double]("value"))).toSet ==
      viaApi.map(r => (r.getAs[String]("name"), r.getAs[Long]("bucket_s"),
        r.getAs[Double]("value"))).toSet)
  }
}
