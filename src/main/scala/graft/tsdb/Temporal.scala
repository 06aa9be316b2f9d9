package graft.tsdb

import graft.Materialize.MatOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-series temporal operators — the m3 `temporal` function family
  * (reference: src/query/functions/temporal/…go files) re-expressed as
  * tumbling-window DataFrame aggregations.
  *
  * m3 evaluates these over a sliding lookback at step-aligned
  * instants (src/query/functions/temporal/base.go); its aggregator
  * tier computes the same functions over *tumbling* resolution
  * windows (src/aggregator/aggregation). We implement the tumbling
  * form — the semantics a batch engine over 100 TB of history
  * actually runs — with exact, documented definitions below. The
  * rate family replays src/query/functions/temporal/rate.go's
  * standardRateFunc exactly: a decrease between consecutive samples
  * is a reset contributing the whole previous value, and the
  * observed delta extrapolates toward the window boundaries (see
  * [[Temporal.extrapolatedRate]]).
  *
  * Definitions per (series, window):
  *  - delta     = (last − first) extrapolated        (gauge change)
  *  - increase  = (delta + Σ prev at resets) extrapolated; only the
  *                start-boundary extrapolation is clamped, at the
  *                counter's projected zero point (standardRateFunc's
  *                durationToZero rule) — the result itself is not
  *                clamped at zero
  *  - rate      = increase / window_seconds
  *  - irate     = (last − prev_last) / (ts_last − ts_prev) over the
  *                final two samples; idelta = last − prev_last
  *  - resets    = #(cur < prev);  changes = #(cur ≠ prev)
  *  - deriv     = least-squares slope of (epoch_s, value)
  *                (src/query/functions/temporal/linear_regression.go
  *                 uses the same covariance formulation)
  *  - predict_linear(h) = intercept + slope · (window_end + h)
  *
  * Scale: the lag() window shuffles once on the series key and sorts
  * within partitions; every aggregate after that is map-side partial.
  * All outputs are (labels…, bucket_s, metrics…) — small relative to
  * input, safe to collect per window.
  */
object Temporal {
  import Vectors.labels

  private def secondsOf(unit: String): Long = unit match {
    case "minute" => 60L
    case "hour"   => 3600L
    case "day"    => 86400L
    case "week"   => 604800L
    case u        => throw new IllegalArgumentException(s"unit $u")
  }

  /** Plain `*_over_time` aggregations (temporal/aggregation.go):
    * sum, avg, min, max, count over each (series, window). */
  def overTimeAggs(samples: DataFrame, unit: String = "day",
                   labelCols: Seq[String] = labels): DataFrame =
    samples
      .withColumn("bucket_s", Vectors.bucketS(unit))
      .groupBy((labelCols :+ "bucket_s").map(col): _*)
      .agg(
        round(sum("value"), 6).as("sum_v"),
        round(avg("value"), 6).as("avg_v"),
        min("value").as("min_v"),
        max("value").as("max_v"),
        count(lit(1)).as("count_v"))

  /** stddev/stdvar_over_time — population moments, matching PromQL /
    * m3 semantics (temporal/aggregation.go:50,53 use the population
    * form). */
  def overTimeStddev(samples: DataFrame, unit: String = "day",
                     labelCols: Seq[String] = labels): DataFrame =
    samples
      .withColumn("bucket_s", Vectors.bucketS(unit))
      .groupBy((labelCols :+ "bucket_s").map(col): _*)
      .agg(
        round(stddev_pop("value"), 6).as("stddev_v"),
        round(var_pop("value"), 6).as("stdvar_v"))

  /** last_over_time (temporal/aggregation.go:56) — deterministic on
    * ts ties via event_id. */
  def lastOverTime(samples: DataFrame, unit: String = "day",
                   labelCols: Seq[String] = labels): DataFrame =
    Vectors.instant(samples, unit, labelCols)

  /** present_over_time (PromQL's existence test over a range; the
    * dual of absent): 1 for every (series, window) that contains at
    * least one sample. */
  def presentOverTime(samples: DataFrame, unit: String = "day",
                      labelCols: Seq[String] = labels): DataFrame =
    samples
      .withColumn("bucket_s", Vectors.bucketS(unit))
      .groupBy((labelCols :+ "bucket_s").map(col): _*)
      .agg(max(lit(1.0)).as("present_v"))

  /** quantile_over_time (temporal/aggregation.go:59) — exact
    * interpolated percentile (PromQL's linear interpolation). */
  def quantileOverTime(samples: DataFrame, q: Double, unit: String = "day",
                       labelCols: Seq[String] = labels): DataFrame =
    samples
      .withColumn("bucket_s", Vectors.bucketS(unit))
      .groupBy((labelCols :+ "bucket_s").map(col): _*)
      .agg(round(percentile(col("value"), lit(q)), 6).as("quantile_v"))

  /** The Prometheus extrapolated rate family — exact replay of
    * standardRateFunc (temporal/rate.go:150) from one window's
    * aggregates (first/last value, first/last sample micros, sample
    * count, counter correction = Σ prev at each reset) over the
    * window [rangeStartS, rangeEndS] of `winSecs` seconds:
    * the observed delta extrapolates toward the window boundaries
    * when the first/last samples sit within 1.1 average sample
    * spacings of them (half a spacing otherwise), the counter form
    * additionally clamps the start extrapolation at the counter's
    * projected zero point, and windows with fewer than two samples
    * (or a zero sampled interval) yield None — rate.go's NaN.
    * Returns (delta, increase, rate). The one definition behind the
    * batch frames ([[rateFrame]], [[rateSliding]], via
    * [[extrapolatedRateCol]]) and the range door's sweep. */
  private[graft] def extrapolatedRate(firstV: Double, lastV: Double,
                                      firstUs: Long, lastUs: Long, n: Long,
                                      corr: Double, rangeStartS: Long,
                                      rangeEndS: Long, winSecs: Long)
      : Option[(Double, Double, Double)] = {
    // (last−first)/1e6, NOT last/1e6 − first/1e6: the oracle computes
    // the difference first and the two orders differ in the last ulp
    val si = (lastUs - firstUs).toDouble / 1e6
    if (n < 2 || !(si > 0)) return None
    val avgDur = si / (n - 1).toDouble
    val thr = avgDur * 1.1
    val res = lastV - firstV + corr
    val d0 = firstUs.toDouble / 1e6 - rangeStartS.toDouble
    val dEnd = rangeEndS.toDouble - lastUs.toDouble / 1e6
    val toZero = si * firstV / res
    val dz = if (res > 0 && firstV >= 0 && toZero < d0) toZero else d0
    def ext(ds: Double) = si +
      (if (ds < thr) ds else avgDur / 2) +
      (if (dEnd < thr) dEnd else avgDur / 2)
    Some(((lastV - firstV) * ext(d0) / si, res * ext(dz) / si,
      res * ext(dz) / si / winSecs))
  }

  private val extrapolatedRateUdf = udf(extrapolatedRate _)

  /** [[extrapolatedRate]] over the per-window aggregate columns
    * (first_v, last_v, first_us, last_us, n_samples, corr): a struct
    * of (_1 delta, _2 increase, _3 rate), null where it yields None. */
  private def extrapolatedRateCol(rangeStart: Column, rangeEnd: Column,
                                  winSecs: Long): Column =
    extrapolatedRateUdf(col("first_v"), col("last_v"), col("first_us"),
      col("last_us"), col("n_samples"), col("corr"), rangeStart, rangeEnd,
      lit(winSecs))

  /** rate / increase / delta in one frame (temporal/rate.go) —
    * Prometheus extrapolation semantics, see [[extrapolatedRate]]. */
  def rateFrame(samples: DataFrame, unit: String = "day",
                labelCols: Seq[String] = labels): DataFrame = {
    val winSecs = secondsOf(unit)
    val bucketed = samples.withColumn("bucket_s", Vectors.bucketS(unit))
    val w = Window.partitionBy((labelCols :+ "bucket_s").map(col): _*)
      .orderBy(col("ts"), col("event_id"))
    val withPrev = bucketed.withColumn("prev_v", lag("value", 1).over(w))
    val agg = withPrev
      .groupBy((labelCols :+ "bucket_s").map(col): _*)
      .agg(
        // atomic packed ordering key keeps this hash-aggregable
        // (see Vectors.lastKey)
        min_by(col("value"), Vectors.lastKey).as("first_v"),
        max_by(col("value"), Vectors.lastKey).as("last_v"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("n_samples"),
        // rate.go:183 — a reset contributes the whole previous value
        sum(when(col("prev_v") > col("value"), col("prev_v"))
          .otherwise(lit(0.0))).as("corr"))
    agg.withColumn("_r",
        extrapolatedRateCol(col("bucket_s"), col("bucket_s") + winSecs, winSecs))
      .select((labelCols :+ "bucket_s").map(col) ++ Seq(
        round(col("_r._1"), 6).as("delta_v"),
        round(col("_r._2"), 6).as("increase_v"),
        round(col("_r._3"), 9).as("rate_v")): _*)
  }

  /** irate / idelta (temporal/rate.go:36,40): instantaneous rate from
    * the final two samples of each window. Windows with a single
    * sample yield null. */
  def irateFrame(samples: DataFrame, unit: String = "day",
                 labelCols: Seq[String] = labels): DataFrame = {
    val bucketed = samples.withColumn("bucket_s", Vectors.bucketS(unit))
    val keys = (labelCols :+ "bucket_s").map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col("ts"), col("event_id"))
    val wDesc = Window.partitionBy(keys: _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    bucketed
      .withColumn("prev_v", lag("value", 1).over(w))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("rn", row_number().over(wDesc))
      .where(col("rn") === 1 && col("prev_v").isNotNull)
      .select(keys ++ Seq(
        round(col("value") - col("prev_v"), 6).as("idelta_v"),
        round((col("value") - col("prev_v")) /
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))).cast("double"), 9)
          .as("irate_v")): _*)
  }

  /** resets + changes (temporal/functions.go:37,41). */
  def resetsChanges(samples: DataFrame, unit: String = "day",
                    labelCols: Seq[String] = labels): DataFrame = {
    val bucketed = samples.withColumn("bucket_s", Vectors.bucketS(unit))
    val keys = (labelCols :+ "bucket_s").map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col("ts"), col("event_id"))
    bucketed
      .withColumn("prev_v", lag("value", 1).over(w))
      .groupBy(keys: _*)
      .agg(
        sum(when(col("prev_v") > col("value"), 1).otherwise(0)).as("resets_v"),
        sum(when(col("prev_v") =!= col("value"), 1).otherwise(0)).as("changes_v"))
  }

  /** deriv + predict_linear (temporal/linear_regression.go):
    * least-squares slope over (epoch seconds, value); prediction at
    * window end + horizonS. Windows need ≥2 samples with distinct
    * timestamps (var_pop(t) > 0), else null. */
  def linearRegression(samples: DataFrame, horizonS: Long = 3600L,
                       unit: String = "day",
                       labelCols: Seq[String] = labels): DataFrame = {
    val winSecs = secondsOf(unit)
    val bucketed = samples
      .withColumn("bucket_s", Vectors.bucketS(unit))
      // t is *window-relative* seconds (second-truncated, identical
      // floor semantics in Spark and DuckDB). Centering near 0 keeps
      // the intercept well-conditioned: with absolute epoch seconds
      // (~1.7e9) the intercept is a difference of ~1e5-magnitude
      // terms and float noise survives round(…, 6).
      .withColumn("t",
        (unix_timestamp(col("ts")) - col("bucket_s")).cast("double"))
    val keys = (labelCols :+ "bucket_s").map(col)
    bucketed
      .groupBy(keys: _*)
      .agg(
        covar_pop(col("t"), col("value")).as("cov_tv"),
        var_pop(col("t")).as("var_t"),
        avg(col("t")).as("avg_t"),
        avg(col("value")).as("avg_v"))
      .withColumn("slope",
        when(col("var_t") > 0, col("cov_tv") / col("var_t")))
      .select(keys ++ Seq(
        round(col("slope"), 9).as("deriv_v"),
        round(col("avg_v") +
          col("slope") * (lit((winSecs + horizonS).toDouble) - col("avg_t")), 6)
          .as("predict_v")): _*)
  }

  /** Sliding-lookback evaluation at step-aligned instants — the
    * m3/PromQL range-query semantics (temporal/base.go:133,166
    * `stepSize`; per-step flush at base.go:267): each evaluation
    * instant e (step-aligned) aggregates the samples of the lookback
    * window ending at e. Implemented with Spark's sliding
    * `window(ts, lookback, step)`: an Expand of lookback/step rows
    * per sample (map-local, no shuffle), then one hash aggregation
    * keyed on (series, window) — instants with no samples vanish,
    * matching PromQL staleness. Boundary note: m3's window is
    * (e−lookback, e]; Spark's canonical window bounds give
    * [e−lookback, e) — the default here, mirrored exactly by the
    * oracle. `rightClosed = true` selects Prometheus bound PARITY:
    * timestamps are integral microseconds, so shifting the
    * window-assignment timestamp by −1µs turns [e−lookback, e) into
    * exactly (e−lookback, e] (see [[windowTs]]) — anyone diffing
    * results against a live Prometheus/m3 gets identical boundary
    * samples.
    *
    * Scale: expansion factor is lookback/step (4 at the defaults);
    * at 100 TB the expansion stays inside the scan's map stage and
    * partial aggregation collapses it before the single shuffle.
    */
  def overTimeAggsSliding(samples: DataFrame, lookbackS: Long = 86400L,
                          stepS: Long = 21600L,
                          labelCols: Seq[String] = labels,
                          rightClosed: Boolean = false): DataFrame =
    withSlidingW(samples, windowTs(rightClosed), lookbackS, stepS)
      .groupBy((labelCols :+ "w").map(col): _*)
      .agg(
        round(sum("value"), 6).as("sum_v"),
        round(avg("value"), 6).as("avg_v"),
        min("value").as("min_v"),
        max("value").as("max_v"),
        count(lit(1)).as("count_v"))
      .select(labelCols.map(col) ++ Seq(
        unix_timestamp(col("w.end")).as("bucket_s"),
        col("sum_v"), col("avg_v"), col("min_v"), col("max_v"), col("count_v")): _*)

  /** The timestamp used for sliding-window ASSIGNMENT. m3/PromQL
    * windows are right-closed `(e−lookback, e]`
    * (temporal/base.go:133); Spark's `window()` is left-closed
    * `[e−lookback, e)`. Timestamps are integral microseconds, so
    * `ts − 1µs ∈ [e−lookback, e)  ⟺  ts ∈ (e−lookback, e]` — the
    * parity mode is a pure input transform, not a different plan.
    * Only assignment shifts: real sample timestamps still feed the
    * extrapolation math (first_us/last_us), exactly as m3 evaluates
    * true sample times against the window bounds. */
  private def windowTs(rightClosed: Boolean): Column =
    if (rightClosed) col("ts") - expr("INTERVAL 1 MICROSECOND")
    else col("ts")

  /** Sliding-window assignment valid for ANY (lookback, step) pair,
    * emitting the same `w` struct (start = end − lookback, end = the
    * step-aligned instant) the downstream aggregations key on.
    *
    * Spark's `window(ts, lookback, step)` requires slide ≤ duration;
    * PromQL doesn't — a subquery like `rate(x[1h])[12h:6h]` samples a
    * 1h window every 6h, leaving GAPS between windows (vendored
    * upstream promql/engine.go evaluates each step independently, so
    * any lookback/step combination is legal). For step > lookback the
    * step-aligned instants tile as tumbling cells of width step; a
    * sample contributes to its cell's instant iff it lies in the
    * trailing lookback of that cell, so assignment is one tumbling
    * window + a filter — still map-local, no extra shuffle, and the
    * expansion factor is at most 1 (each sample reaches at most one
    * instant, vs lookback/step copies in the overlapping case). */
  private def withSlidingW(df: DataFrame, tsw: Column,
                           lookbackS: Long, stepS: Long): DataFrame =
    if (stepS <= lookbackS)
      df.withColumn("w", window(tsw, s"$lookbackS seconds", s"$stepS seconds"))
    else
      df.withColumn("_wt", window(tsw, s"$stepS seconds"))
        .where(unix_micros(tsw) >=
          unix_micros(col("_wt.end")) - lookbackS * 1000000L)
        .withColumn("w", struct(
          (col("_wt.end") - expr(s"INTERVAL $lookbackS SECOND")).as("start"),
          col("_wt.end").as("end")))
        .drop("_wt")

  /** As-of instant vectors — m3's consolidated instant evaluation
    * (src/query/ts/values.go: the value AT each step-aligned instant
    * is the most recent sample within the lookback window, not a
    * bucket aggregate). This is the classic time-series *as-of join*
    * Spark has no native operator for, expressed Spark-first as a
    * sliding-window "last": `window(ts, lookback, step)` Expand +
    * `max_by` over a packed in-window ordering key — no join at all,
    * one hash aggregation, map-local expansion. */
  def asOfInstant(samples: DataFrame, lookbackS: Long = 86400L,
                  stepS: Long = 21600L,
                  labelCols: Seq[String] = labels,
                  rightClosed: Boolean = false): DataFrame =
    withSlidingW(samples, windowTs(rightClosed), lookbackS, stepS)
      .withColumn("bucket_s", unix_timestamp(col("w.end")))
      .withColumn("ord_key", packedOrdKey(windowTs(rightClosed), lookbackS))
      .groupBy((labelCols :+ "bucket_s").map(col): _*)
      .agg(max_by(col("value"), col("ord_key")).as("value"))

  /** Packed in-window ordering key (µs offset in window · 2²⁶ +
    * event_id — Vectors.lastKey convention, hash-aggregable). Exact
    * only while lookback < 2³⁷ µs ≈ 38 h: wider windows would
    * silently overflow and mis-order min_by/max_by, so they fall back
    * to a struct key — still correct, at SortAggregate cost, on the
    * rare wide-window query (ADVICE r11). */
  private def packedOrdKey(tsw: Column, lookbackS: Long): Column =
    if (lookbackS * 1000000L < (1L << 37))
      (unix_micros(tsw) - unix_micros(col("w.start"))) * lit(1L << 26) +
        pmod(col("event_id"), lit(1L << 26))
    else struct(unix_micros(tsw), col("event_id"))

  /** rate/increase/delta over sliding lookback windows (the PromQL
    * range-vector form of [[rateFrame]]). The per-series lag is
    * computed ONCE globally (one shuffle); after the window Expand,
    * a consecutive-pair's reset counts toward a window iff the
    * previous sample also lies inside it (prev_ts >= window start —
    * the window is a contiguous range, so in-window adjacency equals
    * global adjacency). First/last per window use a packed
    * (µs-offset-in-window, event_id) bigint so the aggregation stays
    * a HashAggregate. */
  def rateSliding(samples: DataFrame, lookbackS: Long = 86400L,
                  stepS: Long = 21600L,
                  labelCols: Seq[String] = labels,
                  rightClosed: Boolean = false): DataFrame = {
    val wSeries = Window.partitionBy(labelCols.map(col): _*)
      .orderBy(col("ts"), col("event_id"))
    val withPrev = samples
      // tsw: the window-ASSIGNMENT timestamp (see windowTs) — shifted
      // −1µs in Prometheus bound-parity mode; real ts still feeds the
      // extrapolation's first_us/last_us below
      .withColumn("tsw", windowTs(rightClosed))
      .withColumn("prev_v", lag("value", 1).over(wSeries))
      .withColumn("prev_tsw", lag("tsw", 1).over(wSeries))
    val expanded = withSlidingW(withPrev, col("tsw"), lookbackS, stepS)
      .withColumn("bucket_s", unix_timestamp(col("w.end")))
      // packed in-window ordering key with the wide-window struct
      // fallback (see packedOrdKey)
      .withColumn("ord_key", packedOrdKey(col("tsw"), lookbackS))
      .withColumn("reset_in_w",
        // rate.go:183 — a reset contributes the whole previous value;
        // membership uses the same assignment timestamp as the window
        when(col("prev_tsw") >= col("w.start") && col("prev_v") > col("value"),
          col("prev_v")).otherwise(lit(0.0)))
    val agg = expanded
      .groupBy((labelCols :+ "bucket_s").map(col): _*)
      .agg(
        min_by(col("value"), col("ord_key")).as("first_v"),
        max_by(col("value"), col("ord_key")).as("last_v"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("n_samples"),
        sum(col("reset_in_w")).as("corr"))
    agg.withColumn("_r",
        extrapolatedRateCol(col("bucket_s") - lookbackS, col("bucket_s"), lookbackS))
      .select((labelCols :+ "bucket_s").map(col) ++ Seq(
        round(col("_r._1"), 6).as("delta_v"),
        round(col("_r._2"), 6).as("increase_v"),
        round(col("_r._3"), 9).as("rate_v")): _*)
  }

  /** timestamp() (unconsolidated/timestamp.go:38): value := sample
    * epoch seconds. */
  def timestampOp(samples: DataFrame,
                  labelCols: Seq[String] = labels): DataFrame =
    samples.select(
      (labelCols.map(col) :+ col("event_id")) ++ Seq(
        unix_timestamp(col("ts")).as("value")): _*)

  /** holt_winters(sf, tf) (temporal/holt_winters.go): double
    * exponential smoothing per (series, window), returning the final
    * smoothed level. Sequential recurrence — implemented as a
    * higher-order `aggregate` over the in-window sample array so it
    * stays distributed and codegen-friendly (the array is one
    * window of one series: bounded, small). Not expressible in ANSI
    * SQL → rows-only oracle.
    *
    * s0 = v0, b0 = v1 − v0;
    * s_i = sf·v_i + (1−sf)(s_{i−1} + b_{i−1});
    * b_i = tf(s_i − s_{i−1}) + (1−tf)·b_{i−1}.
    */
  def holtWinters(samples: DataFrame, sf: Double, tf: Double,
                  unit: String = "day",
                  labelCols: Seq[String] = labels): DataFrame = {
    val bucketed = samples.withColumn("bucket_s", Vectors.bucketS(unit))
    val keys = (labelCols :+ "bucket_s").map(col)
    val collected = bucketed
      .groupBy(keys: _*)
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"), col("value"))))
        .as("pts"))
      .where(size(col("pts")) >= 2)
    val vals = expr("transform(pts, p -> p.value)")
    val smoothed = aggregate(
      expr("slice(transform(pts, p -> p.value), 3, size(pts) - 2)"),
      struct(
        element_at(vals, 2).as("s"),
        (element_at(vals, 2) - element_at(vals, 1)).as("b")),
      (acc, v) => {
        val s1 = lit(sf) * v + (lit(1.0) - lit(sf)) * (acc("s") + acc("b"))
        val b1 = lit(tf) * (s1 - acc("s")) + (lit(1.0) - lit(tf)) * acc("b")
        struct(s1.as("s"), b1.as("b"))
      },
      acc => acc("s"))
    collected.select(keys :+ round(smoothed, 6).as("hw_v"): _*)
  }

  /** Rolling z-score anomaly flags per series — the alert rule every
    * m3/Prometheus deployment writes by hand
    * (`abs(x - avg_over_time(x[w])) > 3 * stddev_over_time(x[w])`)
    * restated as one operator: consolidate to `unit` buckets (avg),
    * then score each bucket against the mean/stddev of its trailing
    * `lookback` OBSERVED buckets (rows-frame, like the Graphite
    * moving family — gaps don't stretch the baseline), flag when
    * |z| > `zThresh`. Buckets with fewer than `minPrev` trailing
    * points or a zero-variance baseline emit NULL z and flag 0 —
    * no division blow-ups, no cold-start alerts.
    *
    * Determinism: the flag compares the ROUNDED |z| (the
    * sim_norm_outliers convention) so cross-engine ulp drift in the
    * windowed stddev can't flip a boundary point.
    *
    * Scale: one consolidation hash-agg, then a single per-series
    * ordered window on the sessionize shuffle key — bounded frames of
    * `lookback` rows; no joins, no driver state. */
  def anomalyFrame(samples: DataFrame, unit: String = "hour",
                   lookback: Int = 24, minPrev: Int = 6,
                   zThresh: Double = 3.0): DataFrame = {
    val keys = (labels :+ "bucket_s").map(col)
    val consolidated = samples
      .withColumn("bucket_s", Vectors.bucketS(unit))
      .groupBy(keys: _*).agg(avg("value").as("v"))
    val w = Window.partitionBy(labels.map(col): _*).orderBy("bucket_s")
      .rowsBetween(-lookback, -1)
    val st = consolidated
      .withColumn("n_prev", count(lit(1)).over(w))
      .withColumn("mean_raw", avg("v").over(w))
      .withColumn("std_raw", stddev_pop("v").over(w))
    val z = when(col("n_prev") >= minPrev && col("std_raw") > 0,
      (col("v") - col("mean_raw")) / col("std_raw"))
    st.select(labels.map(col) :+ col("bucket_s") :+
      round(col("v"), 6).as("v") :+ col("n_prev") :+
      round(col("mean_raw"), 6).as("mean_v") :+
      round(z, 6).as("z_v") :+
      coalesce((round(abs(z), 6) > zThresh).cast("int"), lit(0))
        .as("anomaly"): _*)
  }

  /** Hour-of-day seasonal baseline + residual z-score per series —
    * the diurnal companion to [[anomalyFrame]]: a metric that is
    * *normal for 3 AM* should not alert just because it differs from
    * the trailing window that straddled the evening peak. Profile =
    * in-sample mean/stddev of the series' hourly buckets grouped by
    * hour-of-day; each bucket scores against its own hour's profile,
    * with the same min-points / zero-variance / rounded-|z| guards.
    *
    * Scale: two hash aggregations (consolidation, then the ≤24-key
    * per-series profile) and one equi-join back on
    * (series, hour-of-day) — both keyed by series labels, so the join
    * co-locates with the consolidation shuffle; no windows, no driver
    * state. */
  def seasonalFrame(samples: DataFrame, minPts: Int = 4,
                    zThresh: Double = 3.0): DataFrame = {
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy((labels :+ "bucket_s").map(col): _*).agg(avg("value").as("v"))
      .withColumn("hod",
        floor((col("bucket_s") % 86400) / 3600).cast("long"))
      // profile + join both read the consolidation: materialize once
      .materialize(true)
    val keys = labels :+ "hod"
    val prof = cons.groupBy(keys.map(col): _*)
      .agg(avg("v").as("prof_raw"), stddev_pop("v").as("std_raw"),
        count(lit(1)).as("n_hod"))
    val z = when(col("n_hod") >= minPts && col("std_raw") > 0,
      (col("v") - col("prof_raw")) / col("std_raw"))
    cons.join(prof, keys)
      .select(labels.map(col) :+ col("bucket_s") :+ col("hod") :+
        round(col("v"), 6).as("v") :+ col("n_hod") :+
        round(col("prof_raw"), 6).as("prof_v") :+
        round(col("v") - col("prof_raw"), 6).as("resid_v") :+
        round(z, 6).as("z_v") :+
        coalesce((round(abs(z), 6) > zThresh).cast("int"), lit(0))
          .as("seasonal_anomaly"): _*)
  }

  /** M4 downsampling (Jugel et al., VLDB 2014) — the visualization
    * aggregation: per (series, bucket) keep the FOUR samples a
    * pixel-column of a line chart can render — first, last, min, max
    * — which reproduces the full-resolution rendering exactly while
    * shrinking the transfer by |bucket|/4. First/last pick by the
    * packed [[Vectors.lastKey]] bigint (ts, event_id ordering inside
    * one hash-aggregable buffer — the consolidation family's
    * SortAggregate dodge).
    *
    * Scale: ONE hash aggregation with map-side partial combine —
    * min_by/max_by/min/max all fold associatively; no window, no
    * per-series sort. */
  def m4Frame(samples: DataFrame, unit: String = "day"): DataFrame = {
    val b = samples.withColumn("bucket_s", Vectors.bucketS(unit))
    b.groupBy((labels :+ "bucket_s").map(col): _*)
      .agg(count(lit(1)).as("n"),
        round(min_by(col("value"), Vectors.lastKey), 6).as("v_first"),
        round(min("value"), 6).as("v_min"),
        round(max("value"), 6).as("v_max"),
        round(max_by(col("value"), Vectors.lastKey), 6).as("v_last"))
  }

  /** m3tsz timestamp-compression cost model — the reference's
    * delta-of-delta time encoder restated as an analyzable metric
    * (scheme constants from src/dbnode/encoding/scheme.go:42-53:
    * zero bucket 1 bit; 7/9/12-bit value buckets behind 2/3/4-bit
    * opcodes; 32-bit default behind the 4-bit opcode — the
    * seconds-unit scheme of NewTimeEncodingScheme), i.e. per sample:
    * dod = 0 → 1 bit, |dod| < 2⁶ → 9, < 2⁸ → 12, < 2¹¹ → 16, else
    * 36. The first sample of a series carries the full 64-bit stamp
    * and the second's dod measures against Δ₀ = 0 (the cost-model
    * simplification of the encoder's block-start first write). The
    * output is the compression planner's card: how regular each
    * series' arrival cadence is, and what the at-rest timestamp
    * stream would cost.
    *
    * Scale: two lags over the series-keyed ordered window (the
    * Temporal family's one shuffle) + one per-series hash
    * aggregation. */
  def tszCost(samples: DataFrame): DataFrame = {
    val w = Window.partitionBy(labels.map(col): _*)
      .orderBy("ts", "event_id")
    val ts_s = unix_timestamp(col("ts"))
    val withDod = samples
      .withColumn("_d", ts_s - lag(ts_s, 1).over(w))
      .withColumn("_dod", col("_d") - coalesce(lag(col("_d"), 1).over(w),
        lit(0L)))
    val bits = when(col("_d").isNull, 64L)
      .when(col("_dod") === 0, 1L)
      .when(col("_dod") >= -64 && col("_dod") <= 63, 9L)
      .when(col("_dod") >= -256 && col("_dod") <= 255, 12L)
      .when(col("_dod") >= -2048 && col("_dod") <= 2047, 16L)
      .otherwise(36L)
    withDod.withColumn("_bits", bits)
      .groupBy(labels.map(col): _*)
      .agg(count(lit(1)).as("n_samples"),
        sum((col("_bits") === 1).cast("long")).as("n_zero"),
        sum((col("_bits") === 9).cast("long")).as("n_b7"),
        sum((col("_bits") === 12).cast("long")).as("n_b9"),
        sum((col("_bits") === 16).cast("long")).as("n_b12"),
        sum((col("_bits") === 36).cast("long")).as("n_default"),
        sum("_bits").as("total_bits"))
      .withColumn("bits_per_sample",
        round(col("total_bits").cast("double") / col("n_samples"), 6))
      .withColumn("vs_raw64",
        round(lit(64.0) * col("n_samples") / col("total_bits"), 6))
  }

  /** m3tsz VALUE-compression cost model — the full value-encoder
    * state machine's control-bit stream accounting
    * (src/dbnode/encoding/m3tsz/encoder.go:112-260,
    * int_sig_bits_tracker.go:35-97, m3tsz.go:78 convertToIntFloat),
    * the companion to [[tszCost]]'s timestamp half. m3tsz's
    * innovation over Gorilla XOR is detecting floats with fixed
    * decimal precision and diff-encoding them as scaled integers:
    * per value, the smallest multiplier 10^m (m ∈ [curMax, 6])
    * making v·10^m integral (tolerance 1e-6 restates the encoder's
    * Nextafter modf checks — both engines compute the same doubles,
    * so the test is deterministic — plus the reference's 1e13
    * maxOptInt cap and the codec's nonzero-rounding guard, all
    * REchecked at the effective multiplier, not assumed from a
    * prefix max); then per sample
    *   repeat (diff=0, int mode, same mult) → 2 bits
    *   sig/mult update                  → 3 + (1|2|8) + (1|4) + 1 + newSig
    *   no-update                        → 1 + 1 + NumSig
    * where NumSig tracks via the reference's hysteresis (grow
    * immediately; shrink only after 5 consecutive diffs ≥3 bits
    * below, to the highest of them — sigDiffThreshold=3,
    * sigRepeatThreshold=5). The first value of each block writes the
    * int-mode opcode + sig + mult + sign + value bits. Values that
    * fail int conversion take the float-XOR path exactly as the
    * codec does (encoder.go:169 writeFloatVal): first-of-block float
    * = 1+64, int→float transition = 3+64 (and curMax resets to 0 —
    * why the multiplier is fold STATE here, not a window prefix
    * max), float repeat = 2 (bit-equality restated as value + 1/x
    * equality so ±0.0 and NaN agree across engines), and any other
    * float write is modeled at the XOR WORST CASE 1+2+6+6+64 = 79
    * bits (float_encoder_iterator.go:85 uncontained with 64
    * meaningful bits — IEEE bit patterns are not visible to SQL, so
    * the card upper-bounds them; TszSpec pins card == codec when
    * n_float_mode = 0 and card ≥ codec otherwise). A later
    * convertible value flips back through the update arm with the
    * forced 4-bit mult rewrite (encoder.go:236). Encoding is per
    * (series, UTC-day block) — m3 encodes per block, so state resets
    * at block boundaries and blocks encode independently (the
    * property that makes the at-rest format seekable).
    *
    * Scale: ONE shuffle on the (series, block) key into `mapGroups`,
    * where the census runs as imperative Scala
    * ([[graft.sources.Tsz.valueCostStats]] — the codec's own state
    * machine restated for control-bit accounting); per-group state is
    * one block's points. The fold previously ran as a Catalyst
    * `aggregate()`, which is CodegenFallback (interpreted per
    * element) and was the suite's #3 steady cost — the imperative
    * form is ~3× cheaper at identical output. */
  def tszValueCost(samples: DataFrame): DataFrame = {
    import samples.sparkSession.implicits._
    val rows = samples.where(col("value").isNotNull)
      .select(col("name"), col("user_id").cast("long"),
        floor(unix_timestamp(col("ts")).cast("double") / 86400.0)
          .cast("long").as("block"),
        unix_micros(col("ts")).as("tsu"),
        col("event_id").cast("long"), col("value"))
      .as[(String, Long, Long, Long, Long, Double)]
    val perBlock = rows
      .groupByKey(r => (r._1, r._2, r._3))
      .mapGroups { (key, it) =>
        val pts = it.toArray.sortBy(r => (r._4, r._5))
        val st = graft.sources.Tsz.valueCostStats(pts.map(_._6))
        (key._1, key._2, key._3, pts.length.toLong, st.nRepeat,
          st.nSigUpdate, st.nMultUpdate, st.maxMultSeen, st.bits,
          st.nFloatMode, st.nFloatTransition)
      }
      .toDF("name", "user_id", "block", "n", "nrep", "nsigupd",
        "nmultupd", "mmseen", "bits", "nfloat", "ntrans")
    perBlock
      .groupBy("name", "user_id")
      .agg(
        sum("n").as("n_samples"),
        count(lit(1)).as("n_blocks"),
        sum(col("nrep")).as("n_repeat"),
        sum(col("nsigupd")).as("n_sig_update"),
        sum(col("nmultupd")).as("n_mult_update"),
        max(col("mmseen")).as("max_mult"),
        sum(col("bits")).as("total_bits"),
        sum(col("nfloat")).as("n_float_mode"),
        sum(col("ntrans")).as("n_float_transition"))
      .withColumn("bits_per_sample",
        round(col("total_bits").cast("double") / col("n_samples"), 6))
      .withColumn("vs_raw64",
        round(lit(64.0) * col("n_samples") / col("total_bits"), 6))
  }

  /** Series-completeness card — the per-series coverage audit an
    * operator reads before trusting any windowed result (m3's
    * per-series block-completeness view restated): over hour
    * buckets, the span between first and last sample, how many
    * buckets actually hold data, the coverage fraction, the longest
    * gap, and the count of gaps — a series at 40% coverage makes a
    * 24-point moving average a lie, and this card is where that
    * shows first.
    *
    * Scale: one consolidation hash-agg, one lag on the series-keyed
    * ordered frame, one per-series aggregation. */
  def coverageFrame(samples: DataFrame): DataFrame = {
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy((labels :+ "bucket_s").map(col): _*)
      .agg(count(lit(1)).as("_n"))
    val w = Window.partitionBy(labels.map(col): _*).orderBy("bucket_s")
    cons
      .withColumn("_gap",
        (col("bucket_s") - lag("bucket_s", 1).over(w)) / 3600 - 1)
      .groupBy(labels.map(col): _*)
      .agg(count(lit(1)).as("present_buckets"),
        min("bucket_s").as("first_s"), max("bucket_s").as("last_s"),
        coalesce(max("_gap"), lit(0L)).cast("long").as("max_gap_hours"),
        sum((col("_gap") > 0).cast("long")).cast("long").as("n_gaps"))
      .withColumn("span_buckets",
        ((col("last_s") - col("first_s")) / 3600 + 1).cast("long"))
      .withColumn("coverage",
        round(col("present_buckets") /
          col("span_buckets").cast("double"), 6))
  }

  /** Series-shape outliers — which series' diurnal SHAPE deviates
    * most from the fleet's: per series, the hour-of-day profile
    * normalized by the series mean (scale-free — a big service and a
    * small one with the same rhythm coincide), the global profile as
    * the equal-weight mean of series shapes, and the L2² distance
    * between them, top-k by ROUNDED distance. The fleet-level
    * companion of [[seasonalFrame]] (which scores points within one
    * series; this ranks whole series against the fleet) — the
    * "which metric behaves unlike the others" triage view.
    *
    * Scale: two hash aggregations + a 24-row broadcast join; top-k
    * is TakeOrdered (no global sort), the rank windows only the k
    * survivors. Zero-mean series are shape-undefined and drop. */
  def profileOutliers(samples: DataFrame, topK: Int = 10): DataFrame = {
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy((labels :+ "bucket_s").map(col): _*).agg(avg("value").as("v"))
      .withColumn("hod",
        floor((col("bucket_s") % 86400) / 3600).cast("long"))
    val prof = cons.groupBy((labels :+ "hod").map(col): _*)
      .agg(avg("v").as("ph"))
    val smean = cons.groupBy(labels.map(col): _*).agg(avg("v").as("sm"))
    val shape = prof.join(smean, labels)
      .where(col("sm") =!= 0)
      .select(labels.map(col) :+ col("hod") :+
        (col("ph") / col("sm")).as("shape"): _*)
    val global = shape.groupBy("hod")
      .agg(round(avg("shape"), 6).as("g"))
    val dist = shape.join(broadcast(global), "hod")
      .groupBy(labels.map(col): _*)
      .agg(count(lit(1)).as("n_hods"),
        round(sum((col("shape") - col("g")) * (col("shape") - col("g"))), 6)
          .as("dist"))
    val top = dist
      .orderBy(col("dist").desc, col("name").asc, col("user_id").asc)
      .limit(topK)
    val w = Window.orderBy(col("dist").desc, col("name").asc,
      col("user_id").asc) // ≤ topK rows
    top.withColumn("rk", row_number().over(w).cast("long"))
  }

  /** Observability heatmap frame — the (time bucket × log₂ value
    * bucket) census a latency/value heatmap renders (the Grafana
    * heatmap panel's input shape; exponential buckets are the
    * convention because latencies span decades). Emits per
    * (series-name, bucket_s, value-bucket): count + the bucket's
    * lower bound (2^vb, exact in IEEE for any integer exponent).
    * Non-positive values are outside the log domain and drop (the
    * histogram families treat them the same way). log2 is rounded
    * to 9 decimals before the floor: Spark computes log(x)/log(2)
    * while libm (DuckDB) has a fused log2, so a value a few ulps
    * from a power of two could otherwise land in different buckets
    * per engine.
    *
    * Scale: one map stage into a hash aggregation keyed by the
    * (name, time, bucket) triple — the same cardinality the
    * rendered heatmap has. */
  def heatmapFrame(samples: DataFrame, unit: String = "day"): DataFrame =
    samples.where(col("value") > 0)
      .withColumn("bucket_s", Vectors.bucketS(unit))
      .withColumn("vb", floor(round(log2(col("value")), 9)).cast("long"))
      .groupBy(col("name"), col("bucket_s"), col("vb"))
      .agg(count(lit(1)).as("n"))
      .withColumn("v_lo", pow(lit(2.0), col("vb")))

  /** Multi-window SLO burn-rate alerts (the Google SRE Workbook
    * ch. 5 pattern): per service (series name) and day, the error
    * fraction (value > `threshold` = bad) over the short window
    * (the day itself) and the long window (trailing `longWin` days),
    * each divided by the error budget; page when BOTH exceed 1 —
    * the short window for responsiveness, the long one so a brief
    * blip can't page. Counts are integers end to end; the two
    * ratios are single int/int divisions, so both engines compute
    * identical doubles and the alert compares the ROUNDED rates.
    *
    * Scale: one daily hash aggregation per (name, day) + one
    * bounded trailing window over the per-day frame (rows, not
    * events). */
  def burnRateFrame(samples: DataFrame, threshold: Double = 100.0,
                    errBudget: Double = 0.1,
                    longWin: Int = 7): DataFrame = {
    val daily = samples
      .withColumn("bucket_s", Vectors.bucketS("day"))
      .groupBy(col("name"), col("bucket_s"))
      .agg(count(lit(1)).as("n"),
        sum((col("value") > threshold).cast("long")).as("bad"))
    val w = Window.partitionBy("name").orderBy("bucket_s")
      .rowsBetween(-(longWin - 1), Window.currentRow)
    daily
      .withColumn("n_long", sum("n").over(w))
      .withColumn("bad_long", sum("bad").over(w))
      .select(col("name"), col("bucket_s"), col("n"), col("bad"),
        round(col("bad") / col("n").cast("double") / lit(errBudget), 6)
          .as("short_burn"),
        round(col("bad_long") / col("n_long").cast("double")
          / lit(errBudget), 6).as("long_burn"))
      .withColumn("alert",
        (col("short_burn") > 1.0 && col("long_burn") > 1.0).cast("int"))
  }

  /** CUSUM changepoint detection per series (Page 1954) — the
    * classic sequential level-shift detector, restated as WINDOW
    * algebra via the prefix-sum identity: the one-sided recursion
    * S_i = max(0, S_{i−1} + x_i − μ − kσ) equals P_i − min(0,
    * min_{j≤i} P_j) for P = prefix sum of (x − μ − kσ), so the
    * sequential loop becomes two running aggregates over the
    * series-keyed ordered frame. μ/σ are in-sample per series
    * (the ts_anomaly convention); alarm when the ROUNDED statistic
    * clears h·σ — the standard (k, h) = (0.5, 4) tuning.
    *
    * Scale: one consolidation hash-agg, a per-series stats join, two
    * running windows on the one series-keyed sort. No recursion, no
    * state. */
  def cusumFrame(samples: DataFrame, k: Double = 0.5,
                 h: Double = 4.0): DataFrame = {
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy((labels :+ "bucket_s").map(col): _*).agg(avg("value").as("v"))
    val stats = cons.groupBy(labels.map(col): _*)
      .agg(avg("v").as("mu"), stddev_pop("v").as("sigma"))
    val w = Window.partitionBy(labels.map(col): _*).orderBy("bucket_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withP = cons.join(stats, labels)
      .withColumn("_dev", col("v") - col("mu") - lit(k) * col("sigma"))
      .withColumn("_p", sum("_dev").over(w))
    withP
      .withColumn("_s", col("_p") - least(min("_p").over(w), lit(0.0)))
      .select(labels.map(col) :+ col("bucket_s") :+
        round(col("v"), 6).as("v") :+
        round(col("_s"), 6).as("cusum_v") :+
        (round(col("_s"), 6) > round(lit(h) * col("sigma"), 6))
          .cast("int").as("alarm"): _*)
  }

  /** SAX symbolization per series (Lin, Keogh et al. 2003 —
    * "Symbolic Aggregate approXimation"): z-normalize the hourly
    * series in-sample, PAA-average each DAY's 24 z-values, then
    * quantize by the standard normal quartile breakpoints
    * (−0.6745, 0, 0.6745) into a 4-letter alphabet a..d — the
    * discrete representation motif mining / anomaly grammars
    * consume. Zero-variance series emit the flat middle symbol.
    * Breakpoint compares use the ROUNDED PAA value, so engine ulp
    * drift cannot flip a symbol at a boundary.
    *
    * Scale: two hash aggregations (hourly consolidation, then day
    * PAA) + a per-series stats join — no windows at all. */
  def saxFrame(samples: DataFrame): DataFrame = {
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy((labels :+ "bucket_s").map(col): _*).agg(avg("value").as("v"))
    val stats = cons.groupBy(labels.map(col): _*)
      .agg(avg("v").as("mu"), stddev_pop("v").as("sigma"))
    val z = when(col("sigma") > 0, (col("v") - col("mu")) / col("sigma"))
      .otherwise(lit(0.0))
    val paa = cons.join(stats, labels)
      .withColumn("day_s", (col("bucket_s") - pmod(col("bucket_s"),
        lit(86400L))).cast("long"))
      .withColumn("_z", z)
      .groupBy((labels :+ "day_s").map(col): _*)
      .agg(count(lit(1)).as("n_hours"), round(avg("_z"), 6).as("paa_v"))
    val sym = when(col("paa_v") < -0.6745, 0)
      .when(col("paa_v") < 0.0, 1)
      .when(col("paa_v") < 0.6745, 2)
      .otherwise(3)
    paa.withColumn("symbol", sym.cast("long"))
      .withColumn("sax_char",
        element_at(typedlit(Seq("a", "b", "c", "d")),
          col("symbol").cast("int") + 1))
  }

  /** SAX-bucketed motif discovery (Lin/Keogh/Lonardi/Patel 2002 —
    * the "find the repeated shape" primitive behind matrix-profile
    * tooling, restated as candidate generation + exact verify): over
    * the daily frame (hours are too sparse below sf1 to form
    * contiguous runs), every contiguous `m`-day subsequence
    * z-normalizes LOCALLY, maps to a SAX word (the saxFrame
    * breakpoints), and candidate pairs = subsequences sharing
    * (metric name, word) — the classic hash-bucket blocking, same
    * shape as the dedup family's LSH banding, with hot buckets
    * capped. Exact z-normalized Euclidean distance verifies each
    * candidate; same-series pairs within `m` days are excluded
    * (the matrix-profile trivial-match rule). Emits the top-10
    * closest pairs.
    *
    * Determinism: daily values freeze at round 6, the local
    * μ/σ/z chain is fixed-order arithmetic over those identical
    * doubles, z re-freezes at round 6 before the distance, and
    * ranks order by (rounded dist, ids).
    *
    * Scale: one consolidation hash-agg, one lead-window stage on
    * the series-keyed frame, a capped self-join on (name, word) —
    * never all-pairs — and a global top-10 via orderBy·limit (rank
    * window only over the ≤10 survivors). */
  def motifFrame(samples: DataFrame, m: Int = 4,
                 maxBucket: Int = 200): DataFrame = {
    val stepS = 86400L
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("day"))
      .groupBy((labels :+ "bucket_s").map(col): _*)
      .agg(round(avg("value"), 6).as("v"))
    val w = Window.partitionBy(labels.map(col): _*).orderBy("bucket_s")
    val withLeads = (1 until m).foldLeft(
      cons.withColumn("v0", col("v"))) { (df, k) =>
      df.withColumn(s"v$k", lead("v", k).over(w))
        .withColumn(s"b$k", lead("bucket_s", k).over(w))
    }
    val contiguous = (1 until m)
      .map(k => col(s"b$k") === col("bucket_s") + k * stepS)
      .reduce(_ && _)
    val vs = (0 until m).map(k => col(s"v$k"))
    val mu = vs.reduce(_ + _) / m
    val sig = sqrt(vs.map(x => (x - mu) * (x - mu)).reduce(_ + _) / m)
    val subs0 = withLeads.where(contiguous && vs.map(_.isNotNull).reduce(_ && _))
      .withColumn("_mu", mu).withColumn("_sig", sig)
      .where(col("_sig") > 0)
    val subs = (0 until m).foldLeft(subs0) { (df, k) =>
      df.withColumn(s"z$k",
        round((col(s"v$k") - col("_mu")) / col("_sig"), 6))
    }
    val symOf = (z: Column) => when(z < -0.6745, "a")
      .when(z < 0.0, "b").when(z < 0.6745, "c").otherwise("d")
    val worded = subs.withColumn("word",
      concat((0 until m).map(k => symOf(col(s"z$k"))): _*))
      .select((Seq(col("name"), col("user_id"),
        col("bucket_s").as("start_s"), col("word")) ++
        (0 until m).map(k => col(s"z$k"))): _*)
    val capped = worded.withColumn("_bsz",
      count(lit(1)).over(Window.partitionBy("name", "word")))
      .where(col("_bsz") <= maxBucket).drop("_bsz")
    def side(p: String) = capped.select(
      (Seq(col("name"), col("user_id").as(s"${p}_user"),
        col("start_s").as(s"${p}_start"), col("word")) ++
        (0 until m).map(k => col(s"z$k").as(s"${p}_z$k"))): _*)
    val pairs = side("a").join(side("b"), Seq("name", "word"))
      .where(col("a_user") < col("b_user") ||
        (col("a_user") === col("b_user") &&
          col("a_start") + m * stepS <= col("b_start")))
    val d2 = (0 until m)
      .map(k => (col(s"a_z$k") - col(s"b_z$k")) *
        (col(s"a_z$k") - col(s"b_z$k")))
      .reduce(_ + _)
    val top = pairs
      .select(col("name"), col("a_user"), col("a_start"),
        col("b_user"), col("b_start"), col("word"),
        round(sqrt(d2), 6).as("dist"))
      .orderBy(col("dist").asc, col("name").asc, col("a_user").asc,
        col("a_start").asc, col("b_user").asc, col("b_start").asc)
      .limit(10)
    top.withColumn("rk", row_number().over(
      Window.orderBy(col("dist").asc, col("name").asc, col("a_user").asc,
        col("a_start").asc, col("b_user").asc, col("b_start").asc))
      .cast("long"))
  }

  /** STL-lite additive decomposition per series — v = trend +
    * seasonal + remainder (Cleveland et al.'s STL restated as the
    * two-pass moving-average form a batch engine runs): trend is the
    * centered ±`halfWin`-hour moving average (defined only where the
    * full 2·halfWin+1 window exists — no half-window edge estimates,
    * matching the classic decompose() convention of dropping ends),
    * seasonal is the hour-of-day mean of the DETRENDED values, and
    * the remainder is what neither explains. [[seasonalFrame]]
    * z-scores against a raw hour-of-day profile; this separates the
    * trend first, so a drifting series doesn't smear its drift into
    * the seasonal profile.
    *
    * Scale: consolidation is the standard hash aggregation; the
    * trend window shuffles once on the series key (the Temporal
    * family's partitioning, reused by the ordered frame); the
    * seasonal profile is a (series × 24)-row aggregation joined
    * back. No global sort, no unbounded window. */
  /** Raw (unrounded) STL components shared by [[stlFrame]] and
    * [[strengthFrame]]: per consolidated hour bucket, `v`,
    * `trend_raw` (defined only on full ±halfWin windows) and
    * `seas_raw` (hour-of-day mean of the detrended values).
    * `keys` + `consolidate` pick the series identity: per-series
    * (labels, avg) for the decomposition view, fleet-per-name
    * (name, sum) where a dense series is required. */
  private def stlRaw(samples: DataFrame, halfWin: Int,
                     keys: Seq[String] = labels,
                     consolidate: Column = avg(col("value"))): DataFrame = {
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy((keys :+ "bucket_s").map(col): _*).agg(consolidate.as("v"))
      .withColumn("hod",
        floor((col("bucket_s") % 86400) / 3600).cast("long"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy("bucket_s")
      .rowsBetween(-halfWin, halfWin)
    val det = cons
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("trend_raw",
        when(col("n_win") === 2 * halfWin + 1, avg("v").over(w)))
      .withColumn("det", col("v") - col("trend_raw"))
    val seas = det.where(col("trend_raw").isNotNull)
      .groupBy((keys :+ "hod").map(col): _*)
      .agg(avg("det").as("seas_raw"))
    det.join(seas, keys :+ "hod", "left")
  }

  def stlFrame(samples: DataFrame, halfWin: Int = 12): DataFrame =
    stlRaw(samples, halfWin)
      .select(labels.map(col) :+ col("bucket_s") :+ col("hod") :+
        round(col("v"), 6).as("v") :+
        round(col("trend_raw"), 6).as("trend_v") :+
        round(col("seas_raw"), 6).as("seasonal_v") :+
        round(col("v") - col("trend_raw") - col("seas_raw"), 6)
          .as("resid_v"): _*)

  /** Sample autocorrelation function per series at hour-bucket lags
    * 1..`maxLag` — the periodicity detector behind every seasonal
    * model above (a diurnal metric shows the acf_24 spike that
    * justifies hod-profiling; a memoryless one decays immediately):
    *
    *   acf(k) = Σ_t (v_t − μ)(v_{t+k} − μ) / Σ_t (v_t − μ)²
    *
    * with μ and the denominator over the WHOLE consolidated series
    * (the standard biased estimator — denominators shared across
    * lags, so acf is a proper positive-semidefinite sequence).
    * Lags are calendar buckets, not row offsets: a gapped hour
    * drops its pairs instead of silently shifting the lag the way a
    * row-`lag()` window would.
    *
    * Scale: consolidation is the one corpus-sized hash aggregation;
    * the pair stage is ONE equi-join of the consolidated frame
    * against its maxLag-fanned self on (series, bucket+k·3600) —
    * series-keyed, co-located with the consolidation shuffle; the
    * moment frame is a per-series row joined back on the same key. */
  def acfFrame(samples: DataFrame, maxLag: Int = 8): DataFrame = {
    // three plan references (moments + both sides of the lag join):
    // materialize the consolidation once
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy((labels :+ "bucket_s").map(col): _*).agg(avg("value").as("v"))
      .materialize(true)
    val st = cons.groupBy(labels.map(col): _*)
      .agg(avg("v").as("mu"), var_pop("v").as("varp"),
        count(lit(1)).as("n_b"))
    val fanned = cons
      .withColumn("lag_k", explode(sequence(lit(1), lit(maxLag))))
      .withColumn("b_r", col("bucket_s") + col("lag_k") * 3600L)
    val r = cons.select(labels.map(col) :+ col("bucket_s").as("b_r") :+
      col("v").as("v_r"): _*)
    fanned.join(r, labels :+ "b_r")
      .join(st, labels)
      .where(col("varp") > 0)
      .groupBy((labels :+ "lag_k").map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        round(sum((col("v") - col("mu")) * (col("v_r") - col("mu"))) /
          (max("varp") * max("n_b")), 6).as("acf_v"))
  }

  /** Lead-lag cross-correlation between metric NAMES — the
    * "which metric moves first" card (a capacity metric leading an
    * error metric by two hours is an actionable alert ordering):
    * per ordered name pair (a < b) and lag k ∈ −maxLag..maxLag,
    * Pearson r between fleet-summed a(t) and b(t+k) over the
    * aligned hour buckets, via the single-pass moment identity
    * r = (nΣxy − ΣxΣy) / √((nΣx² − (Σx)²)(nΣy² − (Σy)²)) with
    * per-(pair, lag) means (overlap windows differ by lag).
    *
    * Scale: the corpus reduces to (name, hour) in one hash
    * aggregation — everything after operates on |names|·|hours|
    * rows; the pair-lag join fans that bounded frame by the
    * (2·maxLag+1) lag set and |names| pair fan, still nowhere near
    * corpus size. No windows, no driver state. */
  def xcorrFrame(samples: DataFrame, maxLag: Int = 6): DataFrame = {
    // both sides of the pair-lag join read the consolidation:
    // materialize it once
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy("name", "bucket_s").agg(sum("value").as("v"))
      .materialize(true)
    val fanned = cons
      .withColumn("lag_k",
        explode(sequence(lit(-maxLag), lit(maxLag))))
      .withColumn("b_r", col("bucket_s") + col("lag_k") * 3600L)
      .select(col("name").as("name_a"), col("lag_k"), col("b_r"),
        col("v").as("x"))
    val r = cons.select(col("name").as("name_b"), col("bucket_s").as("b_r"),
      col("v").as("y"))
    val m = fanned.join(r, Seq("b_r"))
      .where(col("name_a") < col("name_b"))
      .groupBy("name_a", "name_b", "lag_k")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    val den = (col("n") * col("sxx") - col("sx") * col("sx")) *
      (col("n") * col("syy") - col("sy") * col("sy"))
    m.select(col("name_a"), col("name_b"), col("lag_k"), col("n"),
      round(when(den > 0,
        (col("n") * col("sxy") - col("sx") * col("sy")) / sqrt(den)), 6)
        .as("r_v"))
  }

  /** Robust per-series outliers via the median/MAD modified z-score
    * (Iglewicz & Hoaglin 1993): med = median(v), MAD =
    * median(|v − med|), z = 0.6745·(v − med)/MAD, outlier when
    * trunc₆(|z|) > `thresh`. z is computed from the 6-decimal
    * ROUNDED v/med/MAD (the displayed columns) so both engines
    * divide bitwise-identical doubles, then floor-TRUNCATED at 1e-6
    * rather than rounded: quarter-median quotients land exactly ON
    * the .5 of the 7th decimal (measured: 0.6745·(−8.94)/12 =
    * −0.5025025), where Spark's shortest-string HALF_UP and DuckDB's
    * binary-value rounding disagree; floor of the identical double
    * has no halfway case (the [[TextAnalysis]] readability fix).
    * The robust twin of [[anomalyFrame]]'s mean/stddev z: a burst of
    * true outliers inflates a stddev enough to hide itself, but
    * moves neither median. A zero MAD (over half the buckets
    * identical) yields NULL z and flag 0 — the guard, not an error.
    *
    * Scale: consolidation hash-aggregates corpus→(series, hour);
    * the two exact medians are per-SERIES grouped percentiles over
    * the bounded consolidated frame (≈ span-hours rows per group —
    * swap percentile_approx here if series grow unbounded), joined
    * back on the series key, co-located throughout. */
  def madFrame(samples: DataFrame, thresh: Double = 3.5): DataFrame = {
    // the consolidation feeds med, withMed (twice, via mad and the
    // final select): materialize it once — the before-plan scanned
    // the corpus four times for one logical frame
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy((labels :+ "bucket_s").map(col): _*).agg(avg("value").as("v"))
      .materialize(true)
    val med = cons.groupBy(labels.map(col): _*)
      .agg(percentile(col("v"), lit(0.5)).as("med"))
    val withMed = cons.join(med, labels)
    val mad = withMed.groupBy(labels.map(col): _*)
      .agg(percentile(abs(col("v") - col("med")), lit(0.5)).as("mad"))
    val (vR, medR, madR) =
      (round(col("v"), 6), round(col("med"), 6), round(col("mad"), 6))
    val z = when(madR > 0, lit(0.6745) * (vR - medR) / madR)
    val trunc6 = (c: Column) => floor(c * lit(1000000.0)) / lit(1000000.0)
    withMed.join(mad, labels)
      .select(labels.map(col) :+ col("bucket_s") :+
        vR.as("v") :+ medR.as("med_v") :+ madR.as("mad_v") :+
        trunc6(z).as("z_v") :+
        coalesce((trunc6(abs(z)) > thresh).cast("int"), lit(0))
          .as("outlier"): _*)
  }

  /** Gap interpolation over the calendar spine — the repair step
    * between keepLastValue's LOCF (the PromQL lookback semantics,
    * already in the Graphite family) and dropping gapped windows
    * (the [[acfFrame]] stance): every series expands to its FULL
    * hourly span, and missing buckets fill by linear interpolation
    * between the nearest real neighbors — but only across gaps of at
    * most `maxGapBuckets` missing buckets (inventing hours of data
    * across an outage is how dashboards lie); longer gaps and edges
    * stay NULL with `filled` = 0. Both v and v_filled floor-truncate
    * at 1e-6: interpolation midpoints ((a+b)/2 of 6-decimal values)
    * land exactly ON the 7th-decimal .5.
    *
    * Scale: consolidation hash agg, ONE lead() window over the REAL
    * points (frame = actual data, not the spine), then each real
    * point map-side EXPLODES its own gap — the dense spine is
    * generated already knowing both neighbors, so there is no
    * spine-sized join or window at all. (Two rejected shapes,
    * measured at sf0.1: first/last-ignoreNulls over a
    * `(1, unboundedFollowing)` frame recomputes the frame per spine
    * row — O(span²)/series, 102 s; spine left-join + running-count
    * segment index + two prev/next equi-joins — three spine-sized
    * shuffles, 11.7 s; this shape ~2 s.) */
  def interpolateFrame(samples: DataFrame,
                       maxGapBuckets: Int = 6,
                       shards: Option[Int] = None): DataFrame = {
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy((labels :+ "bucket_s").map(col): _*).agg(avg("value").as("v"))
    // With `shards`, the output carries (shard, shard-local order)
    // coordinates instead of implying any total order — the
    // corpus_shuffle discipline for corpus-sized output. ONE
    // user-pinned hash repartition (AQE leaves explicit counts
    // alone) is reused by the window itself: partitionBy(shard)
    // requires exactly that partitioning, the window's physical sort
    // is (shard, series, bucket), and the generator preserves it —
    // so the dump order falls out of the window shuffle with no
    // extra exchange and no global range sort. lead() crossing a
    // series boundary inside a shard is masked back to null (the
    // per-series window's semantics, spec-pinned).
    val withNext = shards match {
      case None =>
        val wOrd = Window.partitionBy(labels.map(col): _*)
          .orderBy("bucket_s")
        cons
          .withColumn("nb", lead("bucket_s", 1).over(wOrd))
          .withColumn("nv", lead("v", 1).over(wOrd))
      case Some(n) =>
        val sh = pmod(graft.pipeline.Dedup.md5Int(
          concat(col("name"), lit("|"), col("user_id").cast("string"))),
          lit(n.toLong))
        val wS = Window.partitionBy("shard")
          .orderBy((labels :+ "bucket_s").map(col): _*)
        val sameSeries = labels.map(l =>
          lead(col(l), 1).over(wS) === col(l)).reduce(_ && _)
        cons.withColumn("shard", sh)
          .repartition(n, col("shard"))
          .withColumn("nb",
            when(sameSeries, lead("bucket_s", 1).over(wS)))
          .withColumn("nv", when(sameSeries, lead("v", 1).over(wS)))
    }
    // each real point emits itself (off = 0) plus its trailing gap
    // buckets (off = 1 .. gap); the LAST point has no next → just
    // itself (sequence(0, 0))
    val gap = coalesce(((col("nb") - col("bucket_s")) / 3600L - 1)
      .cast("long"), lit(0L))
    val fan = withNext
      .withColumn("off", explode(sequence(lit(0L), gap)))
      .withColumn("b_out", col("bucket_s") + col("off") * 3600L)
    val gapOk = gap <= maxGapBuckets
    val interp = col("v") + (col("nv") - col("v")) *
      ((col("b_out") - col("bucket_s")) / (col("nb") - col("bucket_s")))
    val trunc6 = (c: Column) => floor(c * lit(1000000.0)) / lit(1000000.0)
    val vOut = when(col("off") === 0, col("v"))
    val filled = when(col("off") === 0, col("v"))
      .when(gapOk, interp)
    val base = labels.map(col) :+ col("b_out").as("bucket_s") :+
      trunc6(vOut).as("v") :+
      trunc6(filled).as("v_filled") :+
      (col("off") > 0 && filled.isNotNull).cast("int").as("filled")
    fan.select(base ++ shards.map(_ => col("shard")): _*)
  }

  /** Rollup information-loss audit — what a retention tier throws
    * away: for each coarse resolution a policy stack might store
    * (default 4 h and 1 d over the hourly consolidation), the
    * within-coarse-bucket spread of the fine values (max−min) and the
    * mean |fine − coarse avg| per metric name. A name with near-zero
    * spread downsamples for free; a spiky one tells the operator the
    * coarse tier will hide incidents — the number to read BEFORE
    * choosing [[graft.tsdb.Downsample]] policies, not after.
    *
    * Scale: the hourly consolidation hash agg, then per resolution
    * one aggregation keyed by (series, coarse bucket) — coarse keys
    * are arithmetic on bucket_s, co-partitioned with the
    * consolidation — and a ≤|names| rollup; the union across
    * resolutions is over those tiny frames. Zero windows, zero
    * joins. Within-bucket RMS deviation comes from single-pass
    * moments (Σv, Σv², n), not a mean-join. */
  def rollupLossFrame(samples: DataFrame,
                      resolutions: Seq[Long] = Seq(4 * 3600L, 86400L))
  : DataFrame = {
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy((labels :+ "bucket_s").map(col): _*).agg(avg("value").as("v"))
    resolutions.map { res =>
      val perBucket = cons
        .withColumn("cb", col("bucket_s") - col("bucket_s") % res)
        .groupBy((labels :+ "cb").map(col): _*)
        .agg(count(lit(1)).as("n"), sum("v").as("s"),
          sum(col("v") * col("v")).as("s2"),
          (max("v") - min("v")).as("spread"))
        .withColumn("rms_dev",
          sqrt(greatest(lit(0.0),
            col("s2") / col("n") - (col("s") / col("n")) *
              (col("s") / col("n")))))
      perBucket.groupBy("name")
        .agg(count(lit(1)).as("n_buckets"),
          round(avg("spread"), 6).as("avg_spread"),
          round(max("spread"), 6).as("max_spread"),
          round(avg("rms_dev"), 6).as("avg_rms_dev"))
        .withColumn("res_s", lit(res))
    }.reduce(_ unionAll _)
      .select(col("name"), col("res_s"), col("n_buckets"),
        col("avg_spread"), col("max_spread"), col("avg_rms_dev"))
  }

  /** Alert `FOR`-duration evaluation — the rule-engine semantics on
    * top of every threshold query (a Prometheus/m3 alert fires only
    * after its condition holds CONTINUOUSLY for the `for:` window;
    * the coordinator's rule evaluation replays exactly this): per
    * series hourly bucket, `pending` = condition true now,
    * `firing` = condition true in this and the `forBuckets−1`
    * preceding CALENDAR-CONTIGUOUS buckets — a gap resets the clock
    * (condition unknown ≠ condition true, the conservative reading),
    * exactly like a restarted Prometheus resets pending alerts.
    *
    * Scale: consolidation + one per-series ordered window (bounded
    * ±forBuckets frame) on the consolidation shuffle key. */
  def alertForFrame(samples: DataFrame, thresh: Double = 50.0,
                    forBuckets: Int = 3): DataFrame = {
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy((labels :+ "bucket_s").map(col): _*).agg(avg("value").as("v"))
    val w = Window.partitionBy(labels.map(col): _*).orderBy("bucket_s")
    val wk = w.rowsBetween(-(forBuckets - 1), 0)
    val cond = (round(col("v"), 6) > thresh).cast("int")
    cons
      .withColumn("pending", cond)
      .withColumn("_run", sum("pending").over(wk))
      .withColumn("_span",
        col("bucket_s") - lag("bucket_s", forBuckets - 1).over(w))
      .select(labels.map(col) :+ col("bucket_s") :+
        round(col("v"), 6).as("v") :+ col("pending") :+
        coalesce((col("_run") === forBuckets &&
          col("_span") === (forBuckets - 1) * 3600L).cast("int"), lit(0))
          .as("firing"): _*)
  }

  /** Metric-type inference per metric NAME — counter or gauge from
    * raw-sample monotonicity, the property every rollup-policy choice
    * hangs on (a counter wants rate()+sum rollups, a gauge wants
    * last/avg; m3's aggregation-type metadata declares this, and this
    * card recovers it from data when the declaration is missing or
    * distrusted): per series, consecutive raw deltas in (ts,
    * event_id) order; per name, the pooled fraction of non-negative
    * deltas and the reset count; `counter` when the ROUNDED fraction
    * ≥ `thresh` (counters are monotone except resets), else `gauge`.
    *
    * Scale: one per-series ordered window on the series shuffle key
    * (the sessionize/gap-stats shape) + one ≤|names| aggregation. */
  def typeInferFrame(samples: DataFrame, thresh: Double = 0.95): DataFrame = {
    val w = Window.partitionBy(labels.map(col): _*)
      .orderBy("ts", "event_id")
    val deltas = samples
      .withColumn("_d", col("value") - lag("value", 1).over(w))
      .where(col("_d").isNotNull)
    val frac = col("nonneg_deltas") / col("n_deltas").cast("double")
    deltas.groupBy("name")
      .agg(count_distinct(col("user_id")).as("n_series"),
        count(lit(1)).as("n_deltas"),
        sum((col("_d") >= 0).cast("long")).as("nonneg_deltas"),
        sum((col("_d") < 0).cast("long")).as("resets"))
      .select(col("name"), col("n_series"), col("n_deltas"),
        col("nonneg_deltas"), col("resets"),
        round(frac, 6).as("nonneg_frac"),
        when(round(frac, 6) >= thresh, lit("counter"))
          .otherwise(lit("gauge")).as("inferred_type"))
  }

  /** Trend / seasonal strength per series (Wang, Smith & Hyndman
    * 2006, the feasts::feat_stl measures): over the buckets where
    * the [[stlFrame]] decomposition is complete,
    *
    *   F_trend = max(0, 1 − Var(R)/Var(v − S))
    *   F_seas  = max(0, 1 − Var(R)/Var(v − T))
    *
    * — the one-number-per-metric answers to "is there a trend worth
    * predict_linear" / "is hod-profiling justified", reducing ts_stl's
    * per-bucket frame to a rankable card. Computed on the FLEET-summed
    * per-name series (the [[xcorrFrame]] consolidation): the measure
    * requires a full ±halfWin trend window somewhere, and individual
    * (name, user) series are too sparse for one at ANY data scale —
    * per-user sampling density doesn't grow with corpus size, so a
    * per-series strength card would be structurally empty, not
    * small-data empty. Zero variance in a denominator yields NULL.
    *
    * Scale: [[stlRaw]]'s consolidation + one name-keyed window, then
    * ONE hash aggregation of three variances to a per-name row. */
  def strengthFrame(samples: DataFrame, halfWin: Int = 12): DataFrame = {
    val full = stlRaw(samples, halfWin, Seq("name"), sum(col("value")))
      .where(col("trend_raw").isNotNull && col("seas_raw").isNotNull)
      .withColumn("resid", col("v") - col("trend_raw") - col("seas_raw"))
    full.groupBy("name")
      .agg(count(lit(1)).as("n_b"),
        var_pop(col("resid")).as("vr"),
        var_pop(col("v") - col("seas_raw")).as("vds"),
        var_pop(col("v") - col("trend_raw")).as("vdt"))
      .select(col("name"), col("n_b"),
        round(when(col("vds") > 0,
          greatest(lit(0.0), lit(1.0) - col("vr") / col("vds"))), 6)
          .as("trend_strength"),
        round(when(col("vdt") > 0,
          greatest(lit(0.0), lit(1.0) - col("vr") / col("vdt"))), 6)
          .as("seasonal_strength"))
  }

  /** Theil-Sen robust trend per series: slope = median over all
    * day-bucket pairs of (v_j − v_i)/(d_j − d_i), intercept =
    * median(v − slope·d) (Sen 1968) — the estimator deriv/
    * predict_linear users reach for when one outlier day would drag
    * a least-squares fit (29.3% breakdown point vs 0%).
    *
    * Consolidation is to DAYS deliberately: the pair set is
    * quadratic in the series SPAN, so the resolution is chosen
    * where span² stays bounded (a year = 66k pairs/series) — the
    * hourly twin would be 38M pairs/series-year. Everything after
    * consolidation is bitwise-identical double algebra on both
    * engines (quotients of identical consolidated values, exact
    * median interpolation), so outputs floor-truncate at 1e-6 —
    * pair quotients of 2-decimal averages land exactly ON rounding
    * midpoints (the ts_mad lesson).
    *
    * Scale: corpus → (series, day) in one hash aggregation; the
    * pair stage is a series-keyed self-equi-join (co-located, output
    * bounded by span²/2 per series); two exact grouped medians over
    * bounded frames. No windows, no driver state. */
  def theilSenFrame(samples: DataFrame): DataFrame = {
    // the consolidated frame feeds THREE plan references (the pair
    // self-join's both sides + the intercept join); materialize it
    // once — without this the corpus scan + consolidation aggregate
    // run three times (guide: remove repeated subtree computation)
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("day"))
      .groupBy((labels :+ "bucket_s").map(col): _*).agg(avg("value").as("v"))
      .withColumn("d", (col("bucket_s") / 86400L).cast("long"))
      .materialize(true)
    val r = cons.select(labels.map(col) :+ col("d").as("d_r") :+
      col("v").as("v_r"): _*)
    val sl = cons.join(r, labels).where(col("d_r") > col("d"))
      .select(labels.map(col) :+
        ((col("v_r") - col("v")) / (col("d_r") - col("d")).cast("double"))
          .as("q"): _*)
      .groupBy(labels.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"), percentile(col("q"), lit(0.5))
        .as("slope"))
    val trunc6 = (c: Column) => floor(c * lit(1000000.0)) / lit(1000000.0)
    cons.join(sl, labels)
      .groupBy(labels.map(col): _*)
      .agg(count(lit(1)).as("n_days"), max("n_pairs").as("n_pairs"),
        max("slope").as("slope_raw"),
        percentile(col("v") - col("slope") * col("d"), lit(0.5))
          .as("icept_raw"))
      .select(labels.map(col) :+ col("n_days") :+ col("n_pairs") :+
        trunc6(col("slope_raw")).as("slope_d") :+
        trunc6(col("icept_raw")).as("icept_v"): _*)
  }

  /** One-step-ahead forecast backtest per series — the "should you
    * trust predict_linear here" card: for each hour bucket, score
    * three textbook baselines against the actual,
    *
    *   naive    v̂(t) = v(t−1h)
    *   snaive24 v̂(t) = v(t−24h)   (the seasonal naive)
    *   drift    v̂(t) = v(t−1h) + (v(t−1h) − v(t−2h))
    *
    * and report per (series, method): n scored buckets, MAE, RMSE.
    * A diurnal series shows snaive24 beating naive (the
    * model-selection signal ts_acf hints at); drift beating naive
    * flags momentum. Lags are CALENDAR joins, not row offsets —
    * a gap drops the scored bucket rather than silently comparing
    * against the wrong hour (same stance as [[acfFrame]]).
    *
    * Scale: one consolidation hash agg, three series-keyed
    * self-equi-joins of the bounded consolidated frame (co-located
    * on the series key), one unpivot + one aggregation. */
  def forecastEvalFrame(samples: DataFrame): DataFrame = {
    // four plan references (base + three calendar lags): materialize
    // the consolidation once instead of re-scanning the corpus 4x
    val cons = samples
      .withColumn("bucket_s", Vectors.bucketS("hour"))
      .groupBy((labels :+ "bucket_s").map(col): _*).agg(avg("value").as("v"))
      .materialize(true)
    def lagged(off: Long, as: String) =
      cons.select(labels.map(col) :+ (col("bucket_s") + off).as("bucket_s") :+
        col("v").as(as): _*)
    val k = labels :+ "bucket_s"
    val j = cons
      .join(lagged(3600L, "v1"), k, "left")
      .join(lagged(7200L, "v2"), k, "left")
      .join(lagged(86400L, "v24"), k, "left")
    val preds = j.select(labels.map(col) :+ col("v") :+
      explode(map(
        lit("naive"), col("v1"),
        lit("snaive24"), col("v24"),
        lit("drift"), when(col("v2").isNotNull,
          col("v1") + (col("v1") - col("v2")))))
        .as(Seq("method", "pred")): _*)
      .where(col("pred").isNotNull)
    preds.groupBy((labels :+ "method").map(col): _*)
      .agg(count(lit(1)).as("n"),
        round(avg(abs(col("v") - col("pred"))), 6).as("mae"),
        round(sqrt(avg(pow(col("v") - col("pred"), 2))), 6).as("rmse"))
  }
}
