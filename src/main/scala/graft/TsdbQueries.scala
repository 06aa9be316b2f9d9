package graft

import graft.Materialize.MatOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tsdb._

/** The m3 query-function surface (SURVEY §2 A–F) as named queries
  * over the `events` table, each with a DuckDB oracle that encodes
  * the exact same semantics.
  *
  * Conventions shared by Spark + oracle sides (SURVEY §5): buckets
  * are bigint epoch seconds; float outputs round(…,6) (rates: 9);
  * population moments; interpolated quantiles; every output ordered
  * by its key columns; aggregate aliases identical on both sides.
  */
object TsdbQueries {
  import Vectors.labels

  private def samples(s: SparkSession, dir: String): DataFrame =
    Vectors.samples(Tables.events(s, dir))
  private def inst(s: SparkSession, dir: String): DataFrame =
    Vectors.instant(samples(s, dir), "day")
  /** Float-salted samples (Spark twin of the SALTED oracle relation):
    * every 7th event's value + π fails int conversion at any
    * multiplier ≤ 6, driving the tsz codec's float-XOR paths. */
  private def saltedSamples(s: SparkSession, dir: String): DataFrame =
    samples(s, dir).withColumn("value",
      when(col("event_id") % 7 === 0, col("value") + math.Pi)
        .otherwise(col("value")))

  /** Once-per-(session, sf dir) ZOrderStore table (same lifecycle as
    * [[storeTable]]). Kept lean: props stays out of the layout. */
  private val zorderTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def zorderTable(s: SparkSession, dir: String): String =
    graft.Memo.once(zorderTables, (s, dir))({
      val t = "graft_zstore_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val ev = Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      graft.sources.ZOrderStore.write(ev, t,
        graft.sources.ZOrderStore.layoutFor(ev))
      t
    })

  /** Once-per-(session, sf dir) SeriesStore table for the
    * storage-path queries (idempotent write, catalog-cached). */
  private val storeTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def storeTable(s: SparkSession, dir: String): String =
    graft.Memo.once(storeTables, (s, dir))({
      // md5-derived name: String.hashCode collides easily across sf
      // dirs, and a name clash would silently serve another dir's data
      val t = "graft_store_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val sm = samples(s, dir)
      val (buckets, gran) = graft.sources.SeriesStore.layoutFor(sm)
      graft.sources.SeriesStore.write(sm, t, buckets, gran)
      t
    })

  /** Once-per-(session, sf dir) m3tsz block store — samples encoded
    * into per-(series, day) binary blobs (sources.TszStore). */
  private val tszTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def tszTable(s: SparkSession, dir: String): String =
    graft.Memo.once(tszTables, (s, dir))({
      val t = "graft_tsz_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      graft.sources.TszStore.write(samples(s, dir), t)
      t
    })

  /** Annotated tsz block frame for the two store_tsz_ann queries
    * (built once per (session, dir) and localCheckpointed — the
    * decode query and the cost card share one encode pass).
    * Annotation: the hour label from 06:00 on, null before — each
    * block-day opens unannotated, then writes on hour change only. */
  private val annBlockFrames =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def annBlocks(s: SparkSession, dir: String): DataFrame =
    graft.Memo.once(annBlockFrames, (s, dir))({
      val ann = when(hour(col("ts")) >= 6,
        concat(lit("h"), lpad(hour(col("ts")).cast("string"), 2, "0")))
      graft.sources.TszStore.annotatedBlockFrame(
        samples(s, dir).withColumn("annotation", ann))
        .materialize(false)
    })

  /** Proto structured-message block frame for the two store_proto
    * queries (one encode pass shared via localCheckpoint). Message
    * per event: amount=value (XOR double), qty=floor(value/10)
    * (significant-digit int64), label=quarter-of-day (LRU-dictionary
    * bytes — ≤4 distinct per block-day, so the default size-4 LRU
    * never evicts and the dictionary census is lag-replayable),
    * flag=event_id%3==0 (bool bit). */
  private def protoMsgs(s: SparkSession, dir: String): DataFrame =
    samples(s, dir)
      .where(col("value").isNotNull)
      .select(col("name"), col("user_id"), col("ts"), col("event_id"),
        col("value").as("amount"),
        floor(col("value") / 10).cast("long").as("qty"),
        concat(lit("q"), floor(hour(col("ts")) / 6).cast("int")
          .cast("string")).as("label"),
        (col("event_id") % 3 === 0).as("flag"))
  private val protoBlockFrames =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def protoBlocks(s: SparkSession, dir: String): DataFrame =
    graft.Memo.once(protoBlockFrames, (s, dir))({
      graft.sources.ProtoStore.blockFrame(protoMsgs(s, dir))
        .materialize(false)
    })

  /** Once-per-(session, sf dir) block-segmented m3ninx index table
    * (Index.writeBlockSegments): postings partitioned by UTC-day
    * block, so time-bounded index queries prune segments at planning
    * time. */
  private val idxTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def idxTable(s: SparkSession, dir: String): String =
    graft.Memo.once(idxTables, (s, dir))({
      val t = "graft_idx_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      Index.writeBlockSegments(samples(s, dir), t, Seq("name", "user_id"))
      t
    })

  /** Float-salted m3tsz block store — the same layout encoded from
    * [[saltedSamples]], so blocks mix int-diff and float-XOR spans. */
  private val tszFloatTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def tszFloatTable(s: SparkSession, dir: String): String =
    graft.Memo.once(tszFloatTables, (s, dir))({
      val t = "graft_tszf_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      graft.sources.TszStore.write(saltedSamples(s, dir), t)
      t
    })

  /** Scrape-archive store: exposition lines (as rendered by the
    * ts_exposition roundtrip, comments + malformed included) parsed
    * and WRITTEN into the SeriesStore layout once per (session, dir)
    * — the batch form of "a fleet of Prometheis scrapes into the
    * warehouse". */
  private val scrapeStoreTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def scrapeStoreTable(s: SparkSession, dir: String): String =
    graft.Memo.once(scrapeStoreTables, (s, dir))({
      val t = "graft_scrape_" + java.security.MessageDigest
        .getInstance("MD5").digest(dir.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      val ev = Vectors.samples(Tables.events(s, dir))
      val lines = ev.select(
        format_string("%s{user=\"%d\"} %s %d",
          col("name"), col("user_id"), col("value"),
          unix_millis(col("ts"))).as("line"))
        .unionAll(ev.limit(3).select(
          format_string("# HELP %s synthetic scrape", col("name"))
            .as("line")))
        .unionAll(ev.limit(2).select(
          lit("bad_line{user=} oops").as("line")))
      val parsed = graft.sources.Exposition.parse(Tables.fan(lines, col("line")))
        .where(!col("malformed") && col("ts").isNotNull)
        .withColumn("_kv", filter(col("tags"),
          x => x.getField("tag_name") === "user"))
        .where(size(col("_kv")) === 1)
        .select(col("name"),
          element_at(col("_kv"), 1).getField("tag_value")
            .cast("long").as("user_id"),
          col("ts"), col("value"))
      val (buckets, gran) = graft.sources.SeriesStore.layoutFor(parsed)
      graft.sources.SeriesStore.write(parsed, t, buckets, gran)
      t
    })

  // ---- shared oracle SQL fragments ------------------------------------
  /** events → sample frame with day bucket (floor-epoch bigint). */
  private val S =
    """SELECT event_type AS name, user_id, ts, value, event_id,
      | CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s
      | FROM events""".stripMargin.replace("\n", " ")
  /** Float-salted sample frame: every 7th event's value gains +π and
    * becomes non-convertible under any multiplier ≤ 6 — the corpus
    * that drives the tsz float-XOR paths. Both engines add the same
    * two doubles (pi() is the nearest IEEE double in DuckDB and
    * scala.math.Pi in Spark — identical bits), so the salt is
    * deterministic and cross-engine exact. */
  private val SALTED =
    s"""SELECT name, user_id, ts,
       | CASE WHEN event_id % 7 = 0 THEN value + pi() ELSE value END
       |  AS value, event_id, bucket_s
       | FROM ($S) AS s0""".stripMargin.replace("\n", " ")

  /** The shard → dump-file-position permutation for the
    * ts_interpolate coordinate dump: Spark's HashPartitioning sends
    * shard k to partition pmod(Murmur3Hash(k, seed=42), 32), Verify's
    * coalesce(1) concatenates partitions in index order, and the
    * oracle replays that file order with this embedded CASE (the
    * permutation is a 32-entry constant of Spark's published hash,
    * pinned by a PlanSpec test against spark_partition_id). */
  private lazy val interpFileOrder: String = {
    val perm = (0 until 32).map { k =>
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashLong(k.toLong, 42)
      ((h % 32) + 32) % 32
    }
    (0 until 32).map(k => s"WHEN $k THEN ${perm(k)}")
      .mkString("CASE shard ", " ", " END")
  }

  /** day-instant vector: last sample per (series, day), event_id tiebreak. */
  private val INST =
    s"""SELECT name, user_id, bucket_s, value FROM (
       | SELECT name, user_id, bucket_s, value,
       |  row_number() OVER (PARTITION BY name, user_id, bucket_s
       |                     ORDER BY ts DESC, event_id DESC) AS rn
       | FROM ($S) AS s) AS t WHERE rn = 1""".stripMargin.replace("\n", " ")

  /** step-aligned instant grid for the sliding-window oracles:
    * ends every 6h, covering (min_ts, max_ts + 1d]. */
  private val GRID =
    """SELECT unnest(generate_series(
      | CAST(floor(epoch(min(ts)) / 21600) * 21600 + 21600 AS BIGINT),
      | CAST(floor(epoch(max(ts)) / 21600) * 21600 + 86400 AS BIGINT),
      | 21600)) AS bucket_s FROM events""".stripMargin.replace("\n", " ")

  /** Exact bit length of a non-negative BIGINT in SQL via the
    * binary-string length — the mirror of Temporal.bitLen (DuckDB's
    * bin() of an integer prints no leading zeros). */
  private def sqlBitLen(x: String): String =
    s"CAST(CASE WHEN ($x) = 0 THEN 0 ELSE length(bin($x)) END AS BIGINT)"

  /** Smallest m3tsz multiplier m in [curMax, 6] making v·10^m
    * integral (1e-6 tolerance + the 1e13 maxOptInt cap + the
    * nonzero-rounding guard — mirror of Temporal.tszValueCost's
    * per-m conversion probe and Tsz.convertToIntFloat), else -1
    * (= float-XOR mode). NaN/±Inf fail abs(scaled) < 1e13 on every
    * branch and land at -1. */
  private def sqlMult(v: String, curMax: String): String =
    (0 to 6).map { m =>
      val scaled = s"(($v) * 1${"0" * m}.0)"
      s"""WHEN ($curMax) <= $m AND abs($scaled) < 1e13
         | AND abs($scaled - round($scaled)) < 1e-6
         | AND (($v) = 0 OR round($scaled) != 0) THEN $m"""
        .stripMargin.replace("\n", " ")
    }.mkString("CASE ", " ", " ELSE -1 END")

  /** DuckDB replay of the m3tsz VALUE encoder (int diffs + the
    * float-XOR fallback): a recursive CTE steps the encoder state
    * (mode flag, prev float value, maxmult, sig tracker, intval, bit
    * count) through each (series, day-block)'s points in
    * (ts, event_id) order — the SQL twin of Temporal.tszValueCost's
    * aggregate() fold, branch for branch, including the worst-case
    * (79-bit) modeling of non-repeat XOR writes. */
  private def tszValueCostOracle(src: String): String =
    s"""WITH RECURSIVE ${tszValueChainCtes(src)}
       |SELECT name, user_id, CAST(sum(idx) AS BIGINT) AS n_samples,
       | count(*) AS n_blocks, CAST(sum(nrep) AS BIGINT) AS n_repeat,
       | CAST(sum(nsigupd) AS BIGINT) AS n_sig_update,
       | CAST(sum(nmultupd) AS BIGINT) AS n_mult_update,
       | CAST(max(mmseen) AS BIGINT) AS max_mult,
       | CAST(sum(bits) AS BIGINT) AS total_bits,
       | CAST(sum(nfloat) AS BIGINT) AS n_float_mode,
       | CAST(sum(ntrans) AS BIGINT) AS n_float_transition,
       | round(sum(bits)::DOUBLE / sum(idx), 6) AS bits_per_sample,
       | round(64.0 * sum(idx) / sum(bits), 6) AS vs_raw64
       |FROM last GROUP BY name, user_id ORDER BY name, user_id"""
      .stripMargin.replace("\n", " ")

  /** The recursive value-encoder chain up to `last` (one row per
    * block carrying the final encoder state) — shared by the cost
    * card's oracles (plain + float-salted) and store_tsz_stats'.
    * Float-repeat detection restates IEEE bit equality as value +
    * reciprocal equality (NaN = NaN is true in DuckDB; 1/x splits
    * ±0.0, which never reaches float mode anyway). */
  private def tszValueChainCtes(src: String): String = {
    val firstBits =
      """1 + (CASE WHEN sig0 > 0 THEN 8 ELSE 1 END)
        | + (CASE WHEN m > 0 THEN 4 ELSE 1 END) + 1 + sig0""".stripMargin
    s"""pts AS (
       | SELECT name, user_id, value,
       |  CAST(floor(epoch(ts) / 86400) AS BIGINT) AS block,
       |  row_number() OVER (PARTITION BY name, user_id,
       |    CAST(floor(epoch(ts) / 86400) AS BIGINT)
       |   ORDER BY ts, event_id) AS idx
       | FROM ($src) AS s WHERE value IS NOT NULL),
       |cnt AS (SELECT name, user_id, block, max(idx) AS n
       |  FROM pts GROUP BY 1, 2, 3),
       |rec AS (
       | SELECT name, user_id, block, idx,
       |  CAST(CASE WHEN m = -1 THEN 1 ELSE 0 END AS BIGINT) AS isfloat,
       |  CAST(CASE WHEN m = -1 THEN value ELSE 0 END AS DOUBLE) AS prevv,
       |  CAST(CASE WHEN m = -1 THEN 0 ELSE m END AS BIGINT) AS maxmult,
       |  CAST(CASE WHEN m = -1 THEN 0 ELSE m END AS BIGINT) AS mmseen,
       |  CAST(CASE WHEN m = -1 THEN 0 ELSE sig0 END AS BIGINT) AS numsig,
       |  CAST(0 AS BIGINT) AS curhi, CAST(0 AS BIGINT) AS nlower,
       |  CAST(CASE WHEN m = -1 THEN 0 ELSE val END AS BIGINT) AS intval,
       |  CAST(CASE WHEN m = -1 THEN 65 ELSE $firstBits END AS BIGINT)
       |   AS bits,
       |  CAST(0 AS BIGINT) AS nrep,
       |  CAST(CASE WHEN m = -1 THEN 0 WHEN sig0 > 0 THEN 1 ELSE 0 END
       |   AS BIGINT) AS nsigupd,
       |  CAST(CASE WHEN m = -1 THEN 0 WHEN m > 0 THEN 1 ELSE 0 END
       |   AS BIGINT) AS nmultupd,
       |  CAST(CASE WHEN m = -1 THEN 1 ELSE 0 END AS BIGINT) AS nfloat,
       |  CAST(CASE WHEN m = -1 THEN 1 ELSE 0 END AS BIGINT) AS ntrans
       | FROM (SELECT *, ${sqlBitLen("abs(val)")} AS sig0 FROM
       |   (SELECT *, CASE WHEN m = -1 THEN 0 ELSE
       |      CAST(round(value * power(10.0, m)) AS BIGINT) END AS val
       |    FROM (SELECT *, ${sqlMult("value", "0")} AS m
       |          FROM pts WHERE idx = 1) AS z1) AS z2) AS z3
       | UNION ALL
       | SELECT name, user_id, block, idx,
       |  CAST(CASE WHEN m = -1 THEN 1 ELSE 0 END AS BIGINT),
       |  CAST(CASE WHEN m = -1 THEN v ELSE prevv END AS DOUBLE),
       |  CAST(CASE WHEN m = -1 THEN
       |    (CASE WHEN isfloat = 1 THEN maxmult ELSE 0 END)
       |   WHEN isrep THEN maxmult
       |   ELSE greatest(maxmult, m) END AS BIGINT),
       |  CAST(CASE WHEN m = -1 OR isrep THEN mmseen
       |   ELSE greatest(mmseen, m) END AS BIGINT),
       |  CAST(CASE WHEN m = -1 OR isrep THEN numsig ELSE newsig END
       |   AS BIGINT),
       |  CAST(CASE WHEN m = -1 OR isrep THEN curhi ELSE curhi2 END
       |   AS BIGINT),
       |  CAST(CASE WHEN m = -1 OR isrep THEN nlower ELSE nlower2 END
       |   AS BIGINT),
       |  CAST(CASE WHEN m = -1 OR isrep THEN intval ELSE val END
       |   AS BIGINT),
       |  CAST(bits + CASE
       |   WHEN m = -1 THEN (CASE WHEN frep THEN 2
       |    WHEN isfloat = 0 THEN 67 ELSE 79 END)
       |   WHEN isrep THEN 2
       |   WHEN needupd THEN 3
       |    + (CASE WHEN sigchanged THEN
       |        (CASE WHEN newsig = 0 THEN 2 ELSE 8 END) ELSE 1 END)
       |    + (CASE WHEN multwrite THEN 4 ELSE 1 END) + 1 + newsig
       |   ELSE 2 + numsig END AS BIGINT),
       |  CAST(nrep + CASE WHEN (m = -1 AND frep)
       |   OR (m != -1 AND isrep) THEN 1 ELSE 0 END AS BIGINT),
       |  CAST(nsigupd + CASE WHEN m != -1 AND NOT isrep AND sigchanged
       |   THEN 1 ELSE 0 END AS BIGINT),
       |  CAST(nmultupd + CASE WHEN m != -1 AND NOT isrep AND multwrite
       |   THEN 1 ELSE 0 END AS BIGINT),
       |  CAST(nfloat + CASE WHEN m = -1 THEN 1 ELSE 0 END AS BIGINT),
       |  CAST(ntrans + CASE WHEN m = -1 AND isfloat = 0 THEN 1 ELSE 0 END
       |   AS BIGINT)
       | FROM (SELECT *, (sigchanged OR multwrite) AS needupd FROM
       |  (SELECT *, (numsig != newsig) AS sigchanged,
       |    (m > maxmult OR isfloat = 1) AS multwrite FROM
       |  (SELECT *,
       |    CASE WHEN growing THEN nsig WHEN collapse THEN curhi2
       |     ELSE numsig END AS newsig,
       |    CASE WHEN collapse THEN 0 ELSE nlower1 END AS nlower2 FROM
       |  (SELECT *, (dropping AND nlower1 >= 5) AS collapse FROM
       |  (SELECT *,
       |    CASE WHEN dropping THEN (CASE WHEN nlower = 0 THEN nsig
       |     ELSE greatest(curhi, nsig) END) ELSE curhi END AS curhi2,
       |    CASE WHEN growing THEN nlower WHEN dropping THEN nlower + 1
       |     ELSE 0 END AS nlower1 FROM
       |  (SELECT *, (nsig > numsig) AS growing,
       |    (NOT (nsig > numsig) AND numsig - nsig >= 3) AS dropping FROM
       |  (SELECT *, ${sqlBitLen("adiff")} AS nsig FROM
       |  (SELECT *, abs(intval - val) AS adiff,
       |    (isfloat = 0 AND intval - val = 0 AND m = maxmult) AS isrep,
       |    (isfloat = 1 AND v = prevv AND (1.0 / v) = (1.0 / prevv))
       |     AS frep FROM
       |  (SELECT *, CASE WHEN m = -1 THEN 0 ELSE
       |     CAST(round(v * power(10.0, m)) AS BIGINT) END AS val FROM
       |  (SELECT *, ${sqlMult("v", "maxmult")} AS m FROM
       |  (SELECT r.name, r.user_id, r.block, p.idx, p.value AS v,
       |    r.isfloat, r.prevv, r.maxmult, r.mmseen, r.numsig, r.curhi,
       |    r.nlower, r.intval, r.bits, r.nrep, r.nsigupd, r.nmultupd,
       |    r.nfloat, r.ntrans
       |   FROM rec r JOIN pts p ON p.name = r.name
       |    AND p.user_id = r.user_id AND p.block = r.block
       |    AND p.idx = r.idx + 1) AS t0) AS t1) AS t2) AS t3) AS t4)
       |    AS t5) AS t6) AS t7) AS t8) AS t9) AS t10),
       |last AS (SELECT r.* FROM rec r JOIN cnt c ON c.name = r.name
       |  AND c.user_id = r.user_id AND c.block = r.block AND r.idx = c.n)"""
      .stripMargin.replace("\n", " ")
  }

  /** DuckDB replay of the Prometheus extrapolated rate
    * (temporal/rate.go:150 standardRateFunc; mirror of
    * Temporal.extrapolatedRate). The input relation `g` must carry
    * the group keys plus first_v, last_v, first_us, last_us, n_s,
    * corr, rs (range start s) and re (range end s); emits delta_r /
    * increase_r / rate_r for a `win`-second window. */
  private def extrapSql(g: String, keys: String, win: Long): String =
    s"""(WITH eg AS (SELECT *, (last_us - first_us) / 1e6 AS si,
       |   ((last_us - first_us) / 1e6) / (n_s - 1) AS avgd,
       |   last_v - first_v + corr AS res,
       |   first_us / 1e6 - rs AS d0, re - last_us / 1e6 AS dend
       |  FROM $g AS g0),
       | ex AS (SELECT *, 1.1 * avgd AS thr,
       |   CASE WHEN res > 0 AND first_v >= 0 THEN LEAST(d0, si * first_v / res)
       |        ELSE d0 END AS dz FROM eg)
       | SELECT $keys,
       |  CASE WHEN n_s >= 2 AND si > 0 THEN (last_v - first_v) *
       |   (si + CASE WHEN d0 < thr THEN d0 ELSE avgd / 2 END
       |       + CASE WHEN dend < thr THEN dend ELSE avgd / 2 END) / si END AS delta_r,
       |  CASE WHEN n_s >= 2 AND si > 0 THEN res *
       |   (si + CASE WHEN dz < thr THEN dz ELSE avgd / 2 END
       |       + CASE WHEN dend < thr THEN dend ELSE avgd / 2 END) / si END AS increase_r,
       |  CASE WHEN n_s >= 2 AND si > 0 THEN res *
       |   (si + CASE WHEN dz < thr THEN dz ELSE avgd / 2 END
       |       + CASE WHEN dend < thr THEN dend ELSE avgd / 2 END) / si / $win.0 END AS rate_r
       | FROM ex)""".stripMargin.replace("\n", " ")

  /** Tumbling per-day rate aggregates over the sample source in the
    * shape [[extrapSql]] consumes; `srcFilter` optionally restricts
    * the samples. */
  private def rateAggDay(srcFilter: String): String =
    s"""(SELECT name, user_id, bucket_s,
       |  CAST(bucket_s AS DOUBLE) AS rs, CAST(bucket_s + 86400 AS DOUBLE) AS re,
       |  first(value ORDER BY ts, event_id) AS first_v,
       |  last(value ORDER BY ts, event_id) AS last_v,
       |  epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us,
       |  count(*) AS n_s,
       |  sum(CASE WHEN prev_v > value THEN prev_v ELSE 0 END) AS corr
       | FROM (SELECT *, lag(value) OVER (PARTITION BY name, user_id, bucket_s
       |       ORDER BY ts, event_id) AS prev_v
       |      FROM (SELECT * FROM ($S) AS s0 $srcFilter) AS s1) AS p
       | GROUP BY name, user_id, bucket_s)""".stripMargin.replace("\n", " ")

  /** Sliding 1d/6h extrapolated rate relation per (name, user_id,
    * window end) — the stage shared by the sliding-rate + subquery
    * oracles. */
  private def slidingRateRel(srcFilter: String,
                             rightClosed: Boolean = false): String = {
    // default: Spark's canonical [e−lb, e) second-floor membership;
    // Prometheus parity: exact µs bounds (e−lb, e]. The parity grid
    // starts one step earlier — a sample landing EXACTLY on a
    // step-aligned µs belongs to the window ending at its own
    // instant; an unused extra instant joins to nothing (inner join)
    val member =
      if (rightClosed)
        """ON epoch_us(sl.ts) > (g.bucket_s - 86400) * 1000000
          | AND epoch_us(sl.ts) <= g.bucket_s * 1000000""".stripMargin.replace("\n", " ")
      else
        """ON floor(epoch(sl.ts)) >= g.bucket_s - 86400
          | AND floor(epoch(sl.ts)) < g.bucket_s""".stripMargin.replace("\n", " ")
    val prevMember =
      if (rightClosed) "epoch_us(prev_ts) > (e - 86400) * 1000000"
      else "floor(epoch(prev_ts)) >= e - 86400"
    val grid =
      if (rightClosed)
        """SELECT unnest(generate_series(
          | CAST(floor(epoch(min(ts)) / 21600) * 21600 AS BIGINT),
          | CAST(floor(epoch(max(ts)) / 21600) * 21600 + 86400 AS BIGINT),
          | 21600)) AS bucket_s FROM events""".stripMargin.replace("\n", " ")
      else GRID
    s"""(WITH sl AS (SELECT *, lag(value) OVER w AS prev_v, lag(ts) OVER w AS prev_ts
       |  FROM (SELECT * FROM ($S) AS s0 $srcFilter) AS s
       |  WINDOW w AS (PARTITION BY name, user_id ORDER BY ts, event_id)),
       | j AS (SELECT sl.name, sl.user_id, sl.ts, sl.event_id, sl.value,
       |   sl.prev_v, sl.prev_ts, g.bucket_s AS e
       |  FROM sl JOIN ($grid) AS g
       |   $member),
       | ag AS (SELECT name, user_id, e AS bucket_s,
       |   CAST(e - 86400 AS DOUBLE) AS rs, CAST(e AS DOUBLE) AS re,
       |   first(value ORDER BY ts, event_id) AS first_v,
       |   last(value ORDER BY ts, event_id) AS last_v,
       |   epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us,
       |   count(*) AS n_s,
       |   sum(CASE WHEN $prevMember AND prev_v > value
       |       THEN prev_v ELSE 0 END) AS corr
       |  FROM j GROUP BY name, user_id, e)
       | SELECT name, user_id, bucket_s, delta_r, increase_r, rate_r
       | FROM ${extrapSql("ag", "name, user_id, bucket_s", 86400)} AS x)""".stripMargin.replace("\n", " ")
  }

  /** Per-(series, grid instant) extrapolated rate over the explicit
    * (start, end, step) range-query grid with right-closed
    * (T−range, T] windows — the stage shared by the range-mode
    * oracles (mirror of PromQL.gridWindowEval's rate leaf). */
  private def rangeRateRel(srcFilter: String, startS: Long, endS: Long,
                           stepS: Long, rangeS: Long): String =
    s"""(WITH grid AS (SELECT unnest(generate_series(
       |   $startS, $endS, $stepS)) AS bucket_s),
       | sl AS (SELECT *, lag(value) OVER w AS prev_v,
       |   lag(ts) OVER w AS prev_ts
       |  FROM (SELECT * FROM ($S) AS s0 $srcFilter) AS s
       |  WINDOW w AS (PARTITION BY name, user_id ORDER BY ts, event_id)),
       | j AS (SELECT sl.name, sl.user_id, sl.ts, sl.event_id, sl.value,
       |   sl.prev_v, sl.prev_ts, g.bucket_s AS e
       |  FROM sl JOIN grid AS g
       |   ON epoch_us(sl.ts) > (g.bucket_s - $rangeS) * 1000000
       |   AND epoch_us(sl.ts) <= g.bucket_s * 1000000),
       | ag AS (SELECT name, user_id, e AS bucket_s,
       |   CAST(e - $rangeS AS DOUBLE) AS rs, CAST(e AS DOUBLE) AS re,
       |   first(value ORDER BY ts, event_id) AS first_v,
       |   last(value ORDER BY ts, event_id) AS last_v,
       |   epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us,
       |   count(*) AS n_s,
       |   sum(CASE WHEN epoch_us(prev_ts) > (e - $rangeS) * 1000000
       |       AND prev_v > value THEN prev_v ELSE 0 END) AS corr
       |  FROM j GROUP BY name, user_id, e)
       | SELECT name, user_id, bucket_s, round(rate_r, 9) AS rate_v
       | FROM ${extrapSql("ag", "name, user_id, bucket_s", rangeS)} AS x
       | WHERE rate_r IS NOT NULL)""".stripMargin.replace("\n", " ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- fetch / series selection (the front door) --------------------
    "ts_postings" -> ((s, dir) =>
      Index.postings(samples(s, dir), Seq("name", "user_id"))
        .orderBy("label", "value")),
    "ts_index_route" -> ((s, dir) =>
      Index.indexMatch(samples(s, dir),
        Seq(Fetch.Matcher("name", Fetch.Re, "(pur|cli).*"),
          Fetch.Matcher("user_id", Fetch.NotEq, "7"),
          Fetch.Matcher("user_id", Fetch.Re, "[0-9]*[13579]")),
        labelCols = Seq("name", "user_id"))),
    "ts_index_fetch" -> ((s, dir) =>
      Index.indexFetch(samples(s, dir),
        Seq(Fetch.Matcher("name", Fetch.Re, "(pur|cli).*"),
          Fetch.Matcher("user_id", Fetch.Re, "[0-9]*[13579]")),
        Seq("name", "user_id"),
        startS = Some(1704067200L), endS = Some(1705276800L))
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"), col("value"), col("event_id"))
        .orderBy("event_id")),
    // the same fetch resolved through the PERSISTED block-segmented
    // index: day partitions outside the time bounds prune at
    // planning time, the matched series semi-join the bounded scan —
    // byte-equal to ts_index_fetch and the direct scan route
    "store_index_fetch" -> ((s, dir) =>
      Index.boundedFetch(samples(s, dir), s.table(idxTable(s, dir)),
        Seq(Fetch.Matcher("name", Fetch.Re, "(pur|cli).*"),
          Fetch.Matcher("user_id", Fetch.Re, "[0-9]*[13579]")),
        Seq("name", "user_id"),
        startS = 1704067200L, endS = 1705276800L)
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"), col("value"), col("event_id"))
        .orderBy("event_id")),
    "ts_cardinality" -> ((s, dir) =>
      Index.cardinality(samples(s, dir), Seq("name", "user_id"))),
    "ts_index_tags" -> ((s, dir) =>
      Index.indexCompleteTags(samples(s, dir),
        Seq(Fetch.Matcher("name", Fetch.Re, "(pur|si).*")),
        labelCols = Seq("name", "user_id"))
        .orderBy("tag_name", "tag_value")),
    // time-bounded tag completion served from the block-segmented
    // at-rest index (m3ninx per-block segments): day partitions
    // outside [19725, 19732) prune at planning time; byte-equal to
    // the scan route over the same bounds (spec + this oracle)
    "ts_index_tags_range" -> ((s, dir) =>
      Index.boundedCompleteTags(s.table(idxTable(s, dir)),
        Seq(Fetch.Matcher("name", Fetch.Re, "(pur|cli).*"),
          Fetch.Matcher("user_id", Fetch.Re, "[0-9]*[13579]")),
        labelCols = Seq("name", "user_id"),
        fromBlock = 19725L, untilBlock = 19732L)
        .orderBy("tag_name", "tag_value")),
    "ts_fetch_eq" -> ((s, dir) =>
      Fetch(samples(s, dir),
        Seq(Fetch.Matcher("name", Fetch.Eq, "purchase")),
        startS = Some(1704067200L), endS = Some(1705276800L))
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"), col("value"), col("event_id"))
        .orderBy("event_id")),
    "ts_fetch_regex" -> ((s, dir) =>
      Fetch(samples(s, dir), Seq(
        Fetch.Matcher("name", Fetch.Re, "(pur|cli).*"),
        Fetch.Matcher("name", Fetch.NotRe, "cl.*k"),
        Fetch.Matcher("user_id", Fetch.NotEq, "7")))
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"), col("value"), col("event_id"))
        .orderBy("event_id")),
    "ts_fetch_restrict" -> ((s, dir) =>
      // deployment-level RestrictByTag: the caller asks for purchase
      // events of even-numbered users, but the restrict option
      // OVERRIDES the same-label name matcher to view|cart and strips
      // the name tag from the response (default strip set)
      Fetch.withOptions(samples(s, dir),
        Seq(Fetch.Matcher("name", Fetch.Eq, "purchase"),
          Fetch.Matcher("user_id", Fetch.Re, "[0-9]*[02468]")),
        Fetch.RestrictByTag(Seq(Fetch.Matcher("name", Fetch.Re, "view|cart"))),
        startS = Some(1704067200L), endS = Some(1705276800L))
        .select(col("user_id"), unix_timestamp(col("ts")).as("ts_s"),
          col("value"), col("event_id"))
        .orderBy("event_id")),
    "ts_fetch_limit" -> ((s, dir) =>
      // ReturnedSeriesLimit=12: whole-series truncation by sorted
      // identity, with the TotalSeries/Limited response signals
      Fetch.withSeriesLimit(
        Fetch(samples(s, dir),
          Seq(Fetch.Matcher("name", Fetch.Re, "(pur|cli).*"))), 12)
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"), col("value"),
          col("event_id"), col("total_series"), col("limited"))
        .orderBy("event_id")),
    "ts_fetch_dp_limit" -> ((s, dir) =>
      // ReturnedDatapointsLimit=600: keep the longest sorted-identity
      // prefix of whole series within the datapoint budget
      Fetch.withDatapointsLimit(
        Fetch(samples(s, dir),
          Seq(Fetch.Matcher("name", Fetch.Re, "(pur|cli).*"))), 600L)
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"), col("value"),
          col("event_id"), col("total_datapoints"), col("limited"))
        .orderBy("event_id")),
    "ts_complete_tags" -> ((s, dir) =>
      // the /labels search surface: distinct (tag_name, tag_value)
      // pairs of series matching name=~(pur|si).* in January
      Fetch.completeTags(samples(s, dir),
        Seq(Fetch.Matcher("name", Fetch.Re, "(pur|si).*")),
        labelCols = Seq("name", "user_id"),
        startS = Some(1704067200L), endS = Some(1706745600L))
        .orderBy("tag_name", "tag_value")),
    "ts_label_names" -> ((s, dir) =>
      // the /labels names-only surface (CompleteTags nameOnly):
      // label names present on ≥1 series matching the conjunction
      Fetch.completeTags(samples(s, dir),
        Seq(Fetch.Matcher("name", Fetch.Re, "(pur|si).*")),
        labelCols = Seq("name", "user_id"), nameOnly = true,
        startS = Some(1704067200L), endS = Some(1706745600L))
        .orderBy("tag_name")),
    "ts_label_values" -> ((s, dir) =>
      // label-values endpoint = completeTags filtered to one name
      Fetch.completeTags(samples(s, dir),
        Seq(Fetch.Matcher("user_id", Fetch.Re, "[0-9]")),
        labelCols = Seq("name", "user_id"),
        filterNames = Seq("name"))
        .orderBy("tag_name", "tag_value")),
    "ts_series_match" -> ((s, dir) =>
      // /series with two match[] sets, unioned then deduped
      Fetch.seriesMatch(samples(s, dir),
        Seq(
          Seq(Fetch.Matcher("name", Fetch.Eq, "purchase")),
          Seq(Fetch.Matcher("name", Fetch.Re, "cl.*"),
            Fetch.Matcher("user_id", Fetch.Re, "[0-9]*[02468]"))),
        labelCols = Seq("name", "user_id"),
        startS = Some(1704067200L), endS = Some(1706745600L))
        .orderBy("name", "user_id")),
    // SeriesLimit/DocsLimit on the TAG-SEARCH surfaces (FetchOptions,
    // types.go:113-128): tag completion capped at 8 results with the
    // {total_results, limited} response signals
    // the namespace halves of ResultMetricMetadata (block/meta.go:
    // 66-71): per name, distinct series served from the aggregated
    // vs unaggregated namespace under ds_fanout's latency-split
    // stitch (a series stitched from both branches counts in both)
    "ds_metadata_stats" -> ((s, dir) =>
      Downsample.fanoutMetadataStats(samples(s, dir), 7L * 86400L, Seq(
        Downsample.Policy("10m", 14L * 86400L),
        Downsample.Policy("1h", 30L * 86400L),
        Downsample.Policy("1d", 365L * 86400L)),
        nowS = 1706745600L, startS = 1704931200L,
        aggLatencyS = 2L * 86400L)
        .orderBy("name")),
    // MaxMetricMetadataStats (prom_converter.go:152): per-name
    // WithSamples/NoSamples over a two-week window — series that
    // match the query but are empty in range are the NoSamples
    // diagnostic; capped at the 4 heaviest names
    "ts_metadata_stats" -> ((s, dir) =>
      Fetch.metricMetadataStats(samples(s, dir),
        Seq(Fetch.Matcher("user_id", Fetch.Re, "[0-9]*[0-5]")),
        startS = 1704067200L, endS = 1704844800L, maxNames = 4)
        .orderBy("name")),
    "ts_complete_tags_limit" -> ((s, dir) =>
      Fetch.withMetadataLimit(
        Fetch.completeTags(samples(s, dir),
          Seq(Fetch.Matcher("name", Fetch.Re, "(pur|si).*")),
          labelCols = Seq("name", "user_id"),
          startS = Some(1704067200L), endS = Some(1706745600L)),
        Seq("tag_name", "tag_value"), 8)
        .orderBy("tag_name", "tag_value")),
    "ts_series_match_limit" -> ((s, dir) =>
      Fetch.withMetadataLimit(
        Fetch.seriesMatch(samples(s, dir),
          Seq(
            Seq(Fetch.Matcher("name", Fetch.Eq, "purchase")),
            Seq(Fetch.Matcher("name", Fetch.Re, "cl.*"),
              Fetch.Matcher("user_id", Fetch.Re, "[0-9]*[02468]"))),
          labelCols = Seq("name", "user_id"),
          startS = Some(1704067200L), endS = Some(1706745600L)),
        Seq("name", "user_id"), 10)
        .orderBy("name", "user_id")),
    "ts_index_tags_limit" -> ((s, dir) =>
      Fetch.withMetadataLimit(
        Index.indexCompleteTags(samples(s, dir),
          Seq(Fetch.Matcher("name", Fetch.Re, "(pur|si).*")),
          labelCols = Seq("name", "user_id")),
        Seq("tag_name", "tag_value"), 6)
        .orderBy("tag_name", "tag_value")),

    // ---- §2A across-series aggregation --------------------------------
    "ts_agg_by" -> ((s, dir) =>
      SeriesAgg.basic(inst(s, dir), Seq("name")).orderBy("name", "bucket_s")),
    "ts_spread_by" -> ((s, dir) =>
      SeriesAgg.spread(inst(s, dir), Seq("name")).orderBy("name", "bucket_s")),
    "ts_quantile_by" -> ((s, dir) =>
      SeriesAgg.quantile(inst(s, dir), 0.9, Seq("name")).orderBy("name", "bucket_s")),
    "ts_topk" -> ((s, dir) =>
      SeriesAgg.take(inst(s, dir), 3, Seq("name"), Seq("user_id"), top = true)
        .orderBy("name", "bucket_s", "user_id")),
    "ts_bottomk" -> ((s, dir) =>
      SeriesAgg.take(inst(s, dir), 3, Seq("name"), Seq("user_id"), top = false)
        .orderBy("name", "bucket_s", "user_id")),
    "ts_count_values" -> ((s, dir) =>
      SeriesAgg.countValues(inst(s, dir), Seq("name"))
        .orderBy("name", "bucket_s", "value_str")),
    "ts_absent" -> ((s, dir) =>
      SeriesAgg.absent(
        inst(s, dir).where(col("name") === "purchase" && col("user_id") === 7 &&
          col("value") > 150),
        1704067200L, 1706572800L, 86400L).orderBy("bucket_s")),

    // ---- §2B temporal -------------------------------------------------
    "ts_over_time_aggs" -> ((s, dir) =>
      Temporal.overTimeAggs(samples(s, dir)).orderBy("name", "user_id", "bucket_s")),
    "ts_over_time_stddev" -> ((s, dir) =>
      Temporal.overTimeStddev(samples(s, dir)).orderBy("name", "user_id", "bucket_s")),
    "ts_last_over_time" -> ((s, dir) =>
      Temporal.lastOverTime(samples(s, dir)).orderBy("name", "user_id", "bucket_s")),
    "ts_quantile_over_time" -> ((s, dir) =>
      Temporal.quantileOverTime(samples(s, dir), 0.5)
        .orderBy("name", "user_id", "bucket_s")),
    "ts_rate" -> ((s, dir) =>
      Temporal.rateFrame(samples(s, dir)).orderBy("name", "user_id", "bucket_s")),
    "ts_irate" -> ((s, dir) =>
      Temporal.irateFrame(samples(s, dir)).orderBy("name", "user_id", "bucket_s")),
    "ts_resets_changes" -> ((s, dir) =>
      Temporal.resetsChanges(samples(s, dir)).orderBy("name", "user_id", "bucket_s")),
    "ts_linreg" -> ((s, dir) =>
      Temporal.linearRegression(samples(s, dir)).orderBy("name", "user_id", "bucket_s")),
    "ts_holt_winters" -> ((s, dir) =>
      Temporal.holtWinters(samples(s, dir), 0.3, 0.1)
        .orderBy("name", "user_id", "bucket_s")),
    "ts_anomaly" -> ((s, dir) =>
      Temporal.anomalyFrame(samples(s, dir))
        .orderBy("name", "user_id", "bucket_s")),
    "ts_seasonal" -> ((s, dir) =>
      Temporal.seasonalFrame(samples(s, dir))
        .orderBy("name", "user_id", "bucket_s")),
    // STL-lite: centered-MA trend, hour-of-day seasonal of the
    // detrended values, remainder
    "ts_stl" -> ((s, dir) =>
      Temporal.stlFrame(samples(s, dir))
        .orderBy("name", "user_id", "bucket_s")),
    // per-series completeness: coverage fraction, gap census
    "ts_coverage" -> ((s, dir) =>
      Temporal.coverageFrame(samples(s, dir)).orderBy("name", "user_id")),
    // fleet-level shape outliers: series whose diurnal profile
    // deviates most from the equal-weight global profile
    "ts_profile_outliers" -> ((s, dir) =>
      Temporal.profileOutliers(samples(s, dir)).orderBy("rk")),
    // (time × log2-value) heatmap census
    "ts_heatmap" -> ((s, dir) =>
      Temporal.heatmapFrame(samples(s, dir))
        .orderBy("name", "bucket_s", "vb")),
    // multi-window SLO burn-rate alerts per service name
    "ts_burn_rate" -> ((s, dir) =>
      Temporal.burnRateFrame(samples(s, dir))
        .orderBy("name", "bucket_s")),
    // CUSUM level-shift detection via the prefix-sum identity
    "ts_cusum" -> ((s, dir) =>
      Temporal.cusumFrame(samples(s, dir))
        .orderBy("name", "user_id", "bucket_s")),
    // SAX symbolization: z-normalize, day PAA, quartile alphabet
    "ts_sax" -> ((s, dir) =>
      Temporal.saxFrame(samples(s, dir))
        .orderBy("name", "user_id", "day_s")),
    // M4 visualization downsampling: first/min/max/last per bucket
    "ts_m4" -> ((s, dir) =>
      Temporal.m4Frame(samples(s, dir))
        .orderBy("name", "user_id", "bucket_s")),
    // SAX-bucketed motif discovery: top-10 closest z-normalized
    // 4h-subsequence pairs (word blocking + exact verify)
    "ts_motifs" -> ((s, dir) =>
      Temporal.motifFrame(samples(s, dir)).orderBy("rk")),
    // m3tsz VALUE cost card: the int-optimized diff encoder's exact
    // control-bit accounting per (series, day block)
    "ts_tsz_value_cost" -> ((s, dir) =>
      Temporal.tszValueCost(samples(s, dir)).orderBy("name", "user_id")),
    // the same card over the float-salted corpus: int→float→int
    // transitions, float repeats, worst-case XOR accounting
    "ts_tsz_value_cost_float" -> ((s, dir) =>
      Temporal.tszValueCost(saltedSamples(s, dir))
        .orderBy("name", "user_id")),
    // m3tsz timestamp delta-of-delta cost card per series
    "ts_tsz_cost" -> ((s, dir) =>
      Temporal.tszCost(samples(s, dir)).orderBy("name", "user_id")),
    // sample ACF at hour-bucket lags 1..8 per series
    "ts_acf" -> ((s, dir) =>
      Temporal.acfFrame(samples(s, dir))
        .orderBy("name", "user_id", "lag_k")),
    // lead-lag cross-correlation between fleet-summed metric names
    "ts_xcorr" -> ((s, dir) =>
      Temporal.xcorrFrame(samples(s, dir))
        .orderBy("name_a", "name_b", "lag_k")),
    // median/MAD modified z-score robust outliers per series
    "ts_mad" -> ((s, dir) =>
      Temporal.madFrame(samples(s, dir))
        .orderBy("name", "user_id", "bucket_s")),
    // Wang-Hyndman trend/seasonal strength card per fleet metric
    "ts_strength" -> ((s, dir) =>
      Temporal.strengthFrame(samples(s, dir)).orderBy("name")),
    // counter/gauge type inference from raw-sample monotonicity
    "ts_type_infer" -> ((s, dir) =>
      Temporal.typeInferFrame(samples(s, dir)).orderBy("name")),
    // PromQL alert FOR-duration: pending vs firing after 3 sustained
    // calendar-contiguous buckets over threshold
    "ts_alert_for" -> ((s, dir) =>
      Temporal.alertForFrame(samples(s, dir))
        .orderBy("name", "user_id", "bucket_s")),
    // rollup information-loss audit per name × coarse resolution
    "ds_rollup_loss" -> ((s, dir) =>
      Temporal.rollupLossFrame(samples(s, dir)).orderBy("name", "res_s")),
    // bounded linear gap interpolation over the calendar spine —
    // emitted in (shard, shard-local order) coordinates, NOT a
    // global sort: the dense spine IS corpus-sized output, and a
    // total order over it was this suite's one 100×-hostile output
    // step (r8 verdict, 7.3× at 10×). Shard = portable md5 of the
    // series key; hash-repartition + per-partition sort replaces the
    // sample+range+sort of orderBy, and total order is left to the
    // reader (the corpus_shuffle discipline). The dump concatenates
    // the hash-partition files in partition-index order, which the
    // oracle replays via the embedded murmur permutation
    // (interpFileOrder).
    "ts_interpolate" -> ((s, dir) =>
      Temporal.interpolateFrame(samples(s, dir), shards = Some(32))),
    // Theil-Sen robust trend slope/intercept per series (day buckets)
    "ts_theil_sen" -> ((s, dir) =>
      Temporal.theilSenFrame(samples(s, dir)).orderBy("name", "user_id")),
    // one-step forecast backtest: naive/snaive24/drift MAE+RMSE
    "ts_forecast_eval" -> ((s, dir) =>
      Temporal.forecastEvalFrame(samples(s, dir))
        .orderBy("name", "user_id", "method")),
    "ts_timestamp" -> ((s, dir) =>
      Temporal.timestampOp(samples(s, dir)).orderBy("event_id")),
    "ts_consolidate" -> ((s, dir) =>
      Vectors.consolidate(samples(s, dir), "avg")
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 6).as("value"))
        .orderBy("name", "user_id", "bucket_s")),
    "ts_present_ot" -> ((s, dir) =>
      Temporal.presentOverTime(samples(s, dir))
        .orderBy("name", "user_id", "bucket_s")),
    "ts_asof" -> ((s, dir) =>
      Temporal.asOfInstant(samples(s, dir))
        .orderBy("name", "user_id", "bucket_s")),
    "ts_avg_sliding" -> ((s, dir) =>
      Temporal.overTimeAggsSliding(samples(s, dir))
        .orderBy("name", "user_id", "bucket_s")),
    "ts_rate_sliding" -> ((s, dir) =>
      Temporal.rateSliding(samples(s, dir))
        .orderBy("name", "user_id", "bucket_s")),
    // the Prometheus bound-parity twin: (e−lookback, e] windows
    // (temporal/base.go:133) via the −1µs assignment shift — results
    // diff-identical to a live Prometheus/m3 at the boundaries
    "ts_rate_sliding_promql" -> ((s, dir) =>
      Temporal.rateSliding(samples(s, dir), rightClosed = true)
        .orderBy("name", "user_id", "bucket_s")),

    // ---- §2C instant transforms ---------------------------------------
    "ts_math" -> ((s, dir) =>
      Transform.math(inst(s, dir)).orderBy("name", "user_id", "bucket_s")),
    "ts_clamp" -> ((s, dir) =>
      Transform.clamp(inst(s, dir), 50.0, 150.0).orderBy("name", "user_id", "bucket_s")),
    "ts_round" -> ((s, dir) =>
      Transform.roundTo(inst(s, dir), 5.0).orderBy("name", "user_id", "bucket_s")),
    "ts_datetime" -> ((s, dir) =>
      Transform.datetime(samples(s, dir)).orderBy("event_id")),
    "ts_histogram_quantile" -> ((s, dir) =>
      Transform.histogramQuantile(samples(s, dir), 0.9,
        Seq(10, 25, 50, 100, 150, 200, 300, 600)).orderBy("name", "bucket_s")),
    "ts_histogram_le" -> ((s, dir) => {
      // synthesize cumulative le-bucket histogram series, then apply
      // the le-label quantile (the PromQL pre-bucketed shape)
      val bounds = Seq(10.0, 25.0, 50.0, 100.0, 150.0, 200.0, 300.0, 600.0)
      val leFrame = samples(s, dir)
        .withColumn("bucket_s", Vectors.bucketS("day"))
        .withColumn("le", explode(typedLit(bounds :+ Double.PositiveInfinity)))
        .where(col("value") <= col("le"))
        .groupBy("name", "bucket_s", "le")
        .agg(count(lit(1)).cast("double").as("value"))
      Transform.histogramQuantileLe(leFrame, 0.9, Seq("name"))
        .orderBy("name", "bucket_s")
    }),
    "ts_sort" -> ((s, dir) =>
      Transform.sortSeries(inst(s, dir), desc = true, Seq("name", "user_id"))
        .orderBy("bucket_s", "sort_rank")),

    // ---- §2D binary / vector matching ---------------------------------
    "ts_binary_arith" -> ((s, dir) => {
      val i = inst(s, dir)
      Binary.arithmetic(
        i.where(col("name") === "purchase").drop("name"),
        i.where(col("name") === "click").drop("name"),
        Seq("user_id")).orderBy("user_id", "bucket_s")
    }),
    "ts_binary_cmp" -> ((s, dir) => {
      val i = inst(s, dir)
      Binary.comparison(
        i.where(col("name") === "purchase").drop("name"),
        i.where(col("name") === "click").drop("name"),
        Seq("user_id")).orderBy("user_id", "bucket_s")
    }),
    "ts_binary_and" -> ((s, dir) => {
      val i = inst(s, dir)
      Binary.and(
        i.where(col("name") === "purchase").drop("name"),
        i.where(col("name") === "click" && col("value") > 120).drop("name"),
        Seq("user_id")).orderBy("user_id", "bucket_s")
    }),
    "ts_binary_or" -> ((s, dir) => {
      val i = inst(s, dir)
      Binary.or(
        i.where(col("name") === "purchase").drop("name"),
        i.where(col("name") === "click").drop("name"),
        Seq("user_id")).orderBy("user_id", "bucket_s", "value")
    }),
    "ts_binary_unless" -> ((s, dir) => {
      val i = inst(s, dir)
      Binary.unless(
        i.where(col("name") === "purchase").drop("name"),
        i.where(col("name") === "click" && col("value") > 120).drop("name"),
        Seq("user_id")).orderBy("user_id", "bucket_s")
    }),

    "ts_agg_without" -> ((s, dir) => {
      // 3-label frame (name, cohort, user_id); `without(user_id)`
      // groups on the remaining (name, cohort)
      val i = inst(s, dir).withColumn("cohort", pmod(col("user_id"), lit(10)))
      SeriesAgg.basicWithout(i, Seq("user_id"), Seq("name", "cohort", "user_id"))
        .orderBy("name", "cohort", "bucket_s")
    }),
    "ts_binary_ignoring" -> ((s, dir) => {
      val i = inst(s, dir)
      Binary.opIgnoring(
        i.where(col("name") === "purchase"),
        i.where(col("name") === "click"),
        Seq("name"),
        (l, r) => round(when(r =!= 0, l / r), 9), "ratio_v")
        .orderBy("user_id", "bucket_s")
    }),
    "ts_binary_group_left" -> ((s, dir) => {
      val i = inst(s, dir)
      val byName = i.groupBy("name", "bucket_s").agg(sum("value").as("value"))
      Binary.groupLeft(i, byName, Seq("name"),
        (l, r) => round(l / r, 9), "share_v")
        .orderBy("name", "user_id", "bucket_s")
    }),
    "ts_binary_filter" -> ((s, dir) => {
      val i = inst(s, dir)
      Binary.comparisonFilter(
        i.where(col("name") === "purchase").drop("name"),
        i.where(col("name") === "click").drop("name"),
        Seq("user_id"), _ > _).orderBy("user_id", "bucket_s")
    }),
    "ts_binary_bool" -> ((s, dir) => {
      val i = inst(s, dir)
      Binary.comparisonBool(
        i.where(col("name") === "purchase").drop("name"),
        i.where(col("name") === "click").drop("name"),
        Seq("user_id"), _ > _).orderBy("user_id", "bucket_s")
    }),
    "ts_scalar_time" -> ((s, dir) => {
      val i = inst(s, dir).where(col("name") === "purchase")
      val one = Scalar.scalarOf(i.where(col("user_id") === 7))
      val multi = Scalar.scalarOf(i)
        .withColumnRenamed("scalar_v", "scalar_multi_v")
      i.join(one, "bucket_s").join(multi, "bucket_s")
        .select(col("name"), col("user_id"), col("bucket_s"),
          Scalar.timeCol.as("time_v"), col("scalar_v"), col("scalar_multi_v"),
          round(col("value") / col("scalar_v"), 9).as("ratio_v"))
        .orderBy("user_id", "bucket_s")
    }),
    "ts_offset" -> ((s, dir) => {
      val cur = inst(s, dir).where(col("name") === "purchase")
      val off = Vectors.instant(
        Fetch(samples(s, dir),
          Seq(Fetch.Matcher("name", Fetch.Eq, "purchase")), offsetS = 86400L))
        .select(col("user_id"), col("bucket_s"), col("value").as("prev_v"))
      cur.join(off, Seq("user_id", "bucket_s"))
        .select(col("user_id"), col("bucket_s"), col("value"), col("prev_v"),
          round(col("value") - col("prev_v"), 6).as("diff_v"))
        .orderBy("user_id", "bucket_s")
    }),

    // ---- PromQL front-end (graft.promql) ------------------------------
    "pql_selector" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir), """purchase{user_id!="7"}""")
        .orderBy("name", "user_id", "bucket_s")),
    "pql_rate_sum" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """sum by (name) (rate({name=~"(pur|cli).*"}[1d]))""")
        .select(col("name"), col("bucket_s"), round(col("value"), 9).as("value"))
        .orderBy("name", "bucket_s")),
    // the step-instant RANGE-QUERY front door (temporal/base.go:133,
    // 166): a Grafana-panel-shaped request — explicit (start, end,
    // step) instant grid, right-closed (T−6h, T] windows, rate per
    // series then sum by name at every instant
    "pql_range" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """sum by (name) (rate({name=~"(pur|cli).*"}[6h]))""",
        1704240000L, 1706313600L, 10800L)
        .select(col("name"), col("bucket_s"), round(col("value"), 9).as("value"))
        .orderBy("name", "bucket_s")),
    // `@ end()` in range mode: the leaf evaluates ONCE at the query
    // range's end (exact bound semantics, upstream StepInvariantExpr)
    // and the pinned value repeats at every grid instant
    "pql_range_at" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """avg by (name) (sum_over_time({name=~"(pur|cli).*"}[1d] @ end()))""",
        1704240000L, 1704672000L, 21600L)
        .select(col("name"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "bucket_s")),
    // instant-vector leg of the range front door: bare selector =
    // LAST sample in the (T−lookback, T] staleness window per series
    "pql_range_instant" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """avg by (name) ({name=~"(pur|sig).*"})""",
        1704240000L, 1706313600L, 21600L, lookbackS = 7200L)
        .select(col("name"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "bucket_s")),
    // range-mode SUBQUERY (the Grafana alert-preview idiom issued as
    // a range query): the inner per-name summed rate evaluates on its
    // own epoch-aligned 6h step grid (upstream SubqueryExpr), the
    // outer max windows each trailing 3d of steps at every grid T
    "pql_range_subquery" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """max_over_time(sum by (name) (rate({name=~"(pur|cli).*"}[1d]))[3d:6h])""",
        1704240000L, 1706313600L, 10800L)
        .select(col("name"), col("bucket_s"), round(col("value"), 9).as("value"))
        .orderBy("name", "bucket_s")),
    // range-mode recursive paths under the gate: per-instant topk
    // over grid rate leaves (rank per (name, T), user_id tiebreak)
    "pql_range_topk" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """topk by (name) (2, rate({name=~"(pur|cli).*"}[6h]))""",
        1704240000L, 1706313600L, 10800L)
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 9).as("value"))
        .orderBy("name", "bucket_s", "user_id")),
    // …and a vector∘vector binary op over two grid rate leaves
    "pql_range_mix" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """rate({name="purchase"}[1d]) / on (user_id) rate({name="click"}[1d])""",
        1704240000L, 1706313600L, 10800L)
        .select(col("user_id"), col("bucket_s"), round(col("value"), 9).as("value"))
        .orderBy("user_id", "bucket_s")),
    // DENSE range requests: 24 overlapping [1d] windows per day
    // at a 1h step, each series swept once across the grid
    "pql_range_dense" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """sum_over_time({name="purchase"}[1d])""",
        1704240000L, 1706313600L, 3600L)
        .orderBy("name", "user_id", "bucket_s")),
    // …and the rate family over the same dense grid: extrapolation
    // and the counter correction per window, inside the sweep. The
    // oracle replays the per-window definition with a grid join.
    "pql_range_rate_dense" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """rate({name="purchase"}[1d])""",
        1704240000L, 1706313600L, 3600L)
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 9).as("value"))
        .orderBy("name", "user_id", "bucket_s")),
    // range-mode temporal tail (r12): resets over right-closed grid
    // windows — a consecutive pair counts iff BOTH ends are in-window
    "pql_range_resets" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """resets({name="purchase"}[1d])""",
        1704240000L, 1706313600L, 21600L)
        .orderBy("name", "user_id", "bucket_s")),
    // …irate from the window's final two samples (the last sample's
    // global predecessor, membership-checked against the window)
    "pql_range_irate" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """irate({name="purchase"}[1d])""",
        1704240000L, 1706313600L, 21600L)
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 9).as("value"))
        .orderBy("name", "user_id", "bucket_s")),
    // …and the least-squares deriv over window-relative seconds
    "pql_range_deriv" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """deriv({name="purchase"}[1d])""",
        1704240000L, 1706313600L, 21600L)
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 9).as("value"))
        .orderBy("name", "user_id", "bucket_s")),
    // grid-correct timestamp(): the instant-vector sample's epoch
    // seconds per grid T (closes the r11 silent batch-shape
    // fallthrough — unconsolidated/timestamp.go:38 over the grid)
    "pql_range_ts" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """timestamp({name=~"(pur|sig).*"})""",
        1704240000L, 1706313600L, 21600L, lookbackS = 7200L)
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 6).as("value"))
        .orderBy("name", "user_id", "bucket_s")),
    // grid-correct histogram_quantile() over the staleness-window
    // instant vector (the other half of the fallthrough fix)
    "pql_range_hq" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """histogram_quantile(0.9, {name="purchase"})""",
        1704240000L, 1706313600L, 21600L, lookbackS = 7200L)
        .orderBy("name", "bucket_s")),
    "pql_abs_avg" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir), "avg by (name) (abs(purchase))")
        .select(col("name"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "bucket_s")),
    "pql_topk" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """topk by (name) (3, {name=~".*"})""")
        .orderBy("name", "bucket_s", "user_id")),
    "pql_quantile_ot" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        "quantile_over_time(0.5, purchase[1d])")
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 6).as("value"))
        .orderBy("name", "user_id", "bucket_s")),
    "pql_binop" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir), "rate(purchase[1d]) * 86400")
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 6).as("value"))
        .orderBy("name", "user_id", "bucket_s")),
    "pql_label" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """label_join(label_replace(purchase, "group", "g_$1", "name", "(pur).*"), "series", "/", "name", "user_id")""")
        .orderBy("user_id", "bucket_s")),
    "pql_bool" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir), "purchase > bool 150")
        .orderBy("name", "user_id", "bucket_s")),
    "pql_group_left" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """{name=~".*"} / on (name) group_left sum by (name) ({name=~".*"})""")
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 9).as("value"))
        .orderBy("name", "user_id", "bucket_s")),
    "pql_vec_ratio" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir), "purchase / on (user_id) click")
        .select(col("user_id"), col("bucket_s"), round(col("value"), 9).as("value"))
        .orderBy("user_id", "bucket_s")),
    "pql_vec_unless" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        "purchase unless on (user_id) (click > 120)")
        .orderBy("user_id", "bucket_s")),
    "pql_histogram" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """histogram_quantile(0.9, {name="purchase"})""")
        .orderBy("name", "bucket_s")),
    "pql_absent" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """absent({name="purchase", user_id="7"} > 150)""")
        .orderBy("bucket_s")),
    "pql_sort" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """sort_desc(sum by (user_id) ({name="purchase"}))""")
        .select(col("user_id"), col("bucket_s"),
          round(col("value"), 6).as("value"), col("sort_rank"))
        .orderBy("bucket_s", "sort_rank")),
    "pql_rate_sliding" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """rate({name="purchase"}[1d:6h])""")
        .orderBy("name", "user_id", "bucket_s")),
    "pql_subquery" -> ((s, dir) =>
      // PromQL subquery: inner rate over its own 1d range evaluated
      // at every 6h step, outer max over each trailing 3d of steps
      graft.promql.PromQL.query(samples(s, dir),
        """max_over_time(rate({name="purchase"}[1d])[3d:6h])""")
        .orderBy("name", "user_id", "bucket_s")),
    "pql_subquery_agg" -> ((s, dir) =>
      // the alerting idiom: aggregate FIRST, then window the steps —
      // peak 3d-trailing of the per-name summed rate
      graft.promql.PromQL.query(samples(s, dir),
        """max_over_time(sum by (name) (rate({name=~"(pur|cli).*"}[1d]))[3d:6h])""")
        .select(col("name"), col("bucket_s"),
          round(col("value"), 9).as("value"))
        .orderBy("name", "bucket_s")),
    "pql_subquery_q" -> ((s, dir) =>
      // P90 of the per-step rate over each trailing 3d of steps
      graft.promql.PromQL.query(samples(s, dir),
        """quantile_over_time(0.9, rate({name="purchase"}[1d])[3d:6h])""")
        .orderBy("name", "user_id", "bucket_s")),
    "pql_subquery_sparse" -> ((s, dir) =>
      // sparse subquery — the r12 fuzz find: an inner window SHORTER
      // than the subquery step (1h sampled every 6h) leaves GAPS
      // between windows; Spark's window() can't express slide >
      // duration, so Temporal.withSlidingW tiles tumbling step cells
      // and keeps each cell's trailing lookback
      graft.promql.PromQL.query(samples(s, dir),
        """max_over_time(sum_over_time({name="purchase"}[1h])[2d:6h])""")
        .orderBy("name", "user_id", "bucket_s")),
    // the subquery's OWN offset modifier (r12, upstream SubqueryExpr
    // offset): instant T reads the steps of (T−1d−3d, T−1d] — the
    // time-shifted alerting comparison
    "pql_subquery_offset" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """max_over_time(sum by (name) (rate({name=~"(pur|cli).*"}[1d]))[3d:6h] offset 1d)""")
        .select(col("name"), col("bucket_s"),
          round(col("value"), 9).as("value"))
        .orderBy("name", "bucket_s")),
    // …and the subquery's own @ in range mode: ONE pinned trailing-3d
    // window at end(), replicated across the grid
    "pql_range_subquery_at" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(samples(s, dir),
        """max_over_time(sum by (name) (rate({name=~"(pur|cli).*"}[1d]))[3d:6h] @ end())""",
        1704240000L, 1706313600L, 10800L)
        .select(col("name"), col("bucket_s"),
          round(col("value"), 9).as("value"))
        .orderBy("name", "bucket_s")),
    "pql_count_values" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """count_values("val", {name="purchase"})""")
        .orderBy("name", "user_id", "bucket_s", "val")),
    "pql_scalar" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """{name="purchase"} / scalar({name="purchase", user_id="7"})""")
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 9).as("value"))
        .orderBy("user_id", "bucket_s")),
    "pql_prec" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """{name="purchase"} / on (user_id) {name="click"} * 100""")
        .select(col("user_id"), col("bucket_s"),
          round(col("value"), 9).as("value"))
        .orderBy("user_id", "bucket_s")),
    "pql_mod_pow" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """{name="purchase"} ^ 2 % 7""")
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 6).as("value"))
        .orderBy("user_id", "bucket_s")),
    "pql_time_fns" -> ((s, dir) =>
      // hour of the as-of sample's timestamp per (series, day) —
      // timestamp() consolidates to the instant frame since r12
      graft.promql.PromQL.query(samples(s, dir),
        """hour(timestamp({name="purchase"}))""")
        .orderBy("name", "user_id", "bucket_s")),
    "pql_at" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """{name="purchase"} @ 1704855600""")
        .orderBy("name", "user_id", "bucket_s")),
    // negative offset (look FORWARD — parse.go accepts `offset -2m`):
    // tomorrow's samples re-stamped onto today's instant buckets
    "pql_neg_offset" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """{name="purchase"} offset -1d""")
        .orderBy("name", "user_id", "bucket_s")),
    // @ start() / @ end(): the dataset-range instants (parse.go's
    // at-modifier forms); `or` stitches the two pinned evaluations
    "pql_at_edge" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """{name="purchase"} @ end() or {name="purchase"} @ start()""")
        .orderBy("name", "user_id", "bucket_s")),
    // compound duration [1h30m] = 5400 s: epoch-aligned tumbling
    // windows evaluated via the sliding (step == lookback) path
    "pql_compound" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """sum_over_time({name="click"}[1h30m])""")
        .orderBy("name", "user_id", "bucket_s")),
    "pql_var" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """var by (name) (stdvar_over_time({name="purchase"}[1d]) / 1000)""")
        .select(col("name"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "bucket_s")),
    // upstream-engine function tail (m3 reaches the full upstream
    // prometheus set through its embedded engine,
    // src/query/server/query.go:1380): absent_over_time, the group
    // aggregator, sort_by_label(_desc), two-sided clamp, the trig
    // family with the atan2 operator, deg/rad, pi()
    "pql_absent_ot" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """absent_over_time({name="signup", user_id="3"}[1d])""")
        .orderBy("bucket_s")),
    "pql_present_ot" -> ((s, dir) =>
      // present_over_time COMPOSED under an aggregation (the r12
      // batch-door fuzz find: the leaf leaked its internal present_v
      // column name, breaking any enclosing operator) — per-day
      // count of purchase series present
      graft.promql.PromQL.query(samples(s, dir),
        """sum by (name) (present_over_time({name="purchase"}[1d]))""")
        .orderBy("name", "bucket_s")),
    "pql_timestamp" -> ((s, dir) =>
      // timestamp() at the PromQL door: instant-consolidated (the
      // as-of sample's epoch seconds per series-day), composed under
      // an aggregation to pin the standard frame shape (r12 fuzz
      // find: the old per-sample shape broke every composition)
      graft.promql.PromQL.query(samples(s, dir),
        """max by (name) (timestamp({name=~"purchase|view"}))""")
        .orderBy("name", "bucket_s")),
    "pql_group" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """group by (name) ({name=~"purchase|view"})""")
        .orderBy("name", "bucket_s")),
    "pql_sort_label" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """sort_by_label_desc(sum by (user_id) ({name="purchase"}), "user_id")""")
        .select(col("user_id"), col("bucket_s"),
          round(col("value"), 6).as("value"), col("sort_rank"))
        .orderBy("bucket_s", "sort_rank")),
    "pql_clamp" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """clamp(sum by (user_id) ({name="purchase"}), 80, 120)""")
        .select(col("user_id"), col("bucket_s"),
          round(col("value"), 6).as("value"))
        .orderBy("user_id", "bucket_s")),
    "pql_trig" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """deg(sum by (name) ({name=~"purchase|view"}) atan2 100) % pi()""")
        .select(col("name"), col("bucket_s"),
          round(col("value"), 6).as("value"))
        .orderBy("name", "bucket_s")),
    "pql_trig2" -> ((s, dir) =>
      graft.promql.PromQL.query(samples(s, dir),
        """cos(asin(sin(rad({name="click"})) / 2))""")
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 6).as("value"))
        .orderBy("user_id", "bucket_s")),

    // ---- M3QL front-end (graft.m3ql) ----------------------------------
    "m3ql_agg" -> ((s, dir) =>
      graft.m3ql.M3QL.query(samples(s, dir), "fetch name:* | avg name | >= 48.7")
        .select(col("name"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "bucket_s")),
    "m3ql_macro" -> ((s, dir) =>
      graft.m3ql.M3QL.query(samples(s, dir),
        "hot = fetch name:* | sum name; hot | > 100 | log10")
        .select(col("name"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "bucket_s")),
    "m3ql_multi" -> ((s, dir) =>
      graft.m3ql.M3QL.query(samples(s, dir),
        "fetch name:purchase | clamp min:50 max:150 | percentile 90 name | timeshift 3600")
        .select(col("name"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "bucket_s")),
    "m3ql_top" -> ((s, dir) =>
      graft.m3ql.M3QL.query(samples(s, dir), "fetch name:* | top 2 name")
        .orderBy("name", "bucket_s", "user_id")),
    "m3ql_fetch" -> ((s, dir) =>
      graft.m3ql.M3QL.query(samples(s, dir), "fetch name:purchase user_id:7 | sqrt")
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 6).as("value"))
        .orderBy("bucket_s")),
    // value-transform chain: the pointwise stages not yet under an
    // oracle (sqrt-guard, ceil, neg) ahead of a min aggregation
    "m3ql_transform" -> ((s, dir) =>
      graft.m3ql.M3QL.query(samples(s, dir),
        "fetch name:click | sqrt | ceil | neg | min name")
        .select(col("name"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "bucket_s")),
    // nested sub-pipeline argument (grammar.peg:40 Nesting): each
    // series as a percentage of the fleet-wide per-name sum — the
    // divide-by-aggregate composition a flat pipe chain cannot say
    "m3ql_nested" -> ((s, dir) =>
      graft.m3ql.M3QL.query(samples(s, dir),
        "fetch name:* | asPercent (fetch name:* | sum name)")
        .select(col("name"), col("user_id"), col("bucket_s"),
          round(col("value"), 6).as("value"))
        .orderBy("name", "user_id", "bucket_s")),
    // extended glob dialect in fetch matchers — {a,b} alternation +
    // [0-9] ranges, the GlobSymbols the m3ql grammar passes through
    // (grammar.peg.go:1493) with graphite glob.go conversion
    "m3ql_glob" -> ((s, dir) =>
      graft.m3ql.M3QL.query(samples(s, dir),
        "fetch name:{purchase,signup} user_id:1? | sum name")
        .select(col("name"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "bucket_s")),

    // ---- §2E tags -----------------------------------------------------
    "ts_label_join" -> ((s, dir) =>
      Tags.labelJoin(inst(s, dir), "series_id", "/", Seq("name", "user_id"))
        .orderBy("name", "user_id", "bucket_s")),
    "ts_label_replace" -> ((s, dir) =>
      Tags.labelReplace(inst(s, dir), "group", "g_$1", "name", "^(pur|cli)")
        .orderBy("name", "user_id", "bucket_s")),

    // ---- §2F downsampling ---------------------------------------------
    "ds_rollup" -> ((s, dir) =>
      Downsample.rollup(samples(s, dir), "hour").orderBy("name", "user_id", "bucket_s")),
    // the same rollup THROUGH the storage layout: write once per
    // (session, sf dir) as a dt-partitioned series-bucketed table,
    // then aggregate the bucketed read — the scan's hash distribution
    // on (name, user_id) satisfies the groupBy, so the plan carries
    // ZERO hash exchanges (PlanSpec audits it). First call in a
    // session pays the write; results are byte-identical to
    // ds_rollup's direct path.
    "store_rollup" -> ((s, dir) =>
      Downsample.rollup(
        graft.sources.SeriesStore.read(s, storeTable(s, dir)).drop("dt"), "hour")
        .orderBy("name", "user_id", "bucket_s")),
    // time-bounded matcher fetch THROUGH the store: dt bounds prune
    // whole day partitions at planning time, the residual ts range
    // pushes into the scan where the in-bucket (name, user_id, ts)
    // sort makes row-group stats tight (StoreSpec measures ~5× fewer
    // rows read for narrow windows), and the name matcher prunes
    // series-major row groups. Same rows as a direct fetch — the
    // oracle filters the raw events.
    // 2-D pruned box fetch through the z-ordered layout: covering
    // z-cells prune partitions at planning time, exact box bounds
    // remain as residual predicates; box derived from the recorded
    // grid extents (3/10..7/10 of days × 2/10..8/10 of users)
    // m3tsz at-rest blocks: encode → persist → decode → hourly census
    // byte-exact vs the raw events (integer cents keep the comparison
    // order-insensitive and float-exact — round-trip exactness is the
    // claim under test)
    "store_tsz" -> ((s, dir) => {
      val cents = round(col("value") * 100, 0).cast("long")
      graft.sources.TszStore.readDecoded(s, tszTable(s, dir))
        .withColumn("bucket_s", Vectors.bucketS("hour"))
        .groupBy("name", "user_id", "bucket_s")
        .agg(count(lit(1)).as("n"),
          sum(cents).as("sum_c"), min(cents).as("min_c"),
          max(cents).as("max_c"))
        .orderBy("name", "user_id", "bucket_s")
    }),
    // per-datapoint annotations through the tsz stream
    // (timestamp_encoder.go:161-195 write-on-change markers): decode
    // returns the PREVAILING annotation per point (the iterator's
    // PrevAnt) — null until a block's first marker, carried across
    // unannotated points after it. Annotation = hour label from
    // 06:00 on, so each block-day opens unannotated and rewrites
    // only at hour boundaries
    // dumped as an hourly (series, annotation) census — count +
    // integer-cent sum per decoded annotation value — so any point
    // carrying the wrong prevailing annotation moves a group count;
    // the corpus-sized raw dump (and its global sort, the r8
    // interpolate scale lesson) never materializes. Per-point
    // equality is TszSpec-pinned
    "store_tsz_ann" -> ((s, dir) => {
      val cents = round(col("value") * 100, 0).cast("long")
      graft.sources.TszStore.decodeAnnotated(annBlocks(s, dir))
        .withColumn("bucket_s", Vectors.bucketS("hour"))
        .groupBy("name", "user_id", "bucket_s", "annotation")
        .agg(count(lit(1)).as("n"), sum(cents).as("sum_c"))
        .orderBy("name", "user_id", "bucket_s", "annotation")
    }),
    // the annotation cost card: ant_bits per block = one 11-bit
    // marker + varint(len−1) + raw bytes per CHANGE, nothing for
    // repeats — the oracle replays the change rule with a lag over
    // the prevailing annotation
    "store_tsz_ann_cost" -> ((s, dir) =>
      annBlocks(s, dir)
        .select(col("name"), col("user_id"), col("block"), col("n"),
          col("ant_bits"))
        .orderBy("name", "user_id", "block")),
    // the proto structured-message codec end to end: encode the
    // 4-field message stream per (series, day), decode, and census
    // hourly — integer cents + qty/flag sums + label cardinality are
    // exact on both engines, so any drift in any of the four field
    // decoders moves a group
    "store_proto" -> ((s, dir) => {
      val cents = round(col("amount") * 100, 0).cast("long")
      graft.sources.ProtoStore.decode(protoBlocks(s, dir))
        .withColumn("bucket_s", Vectors.bucketS("hour"))
        .groupBy("name", "user_id", "bucket_s")
        .agg(count(lit(1)).as("n"), sum(cents).as("sum_c"),
          sum(col("qty")).as("sum_qty"),
          sum(when(col("flag"), 1L).otherwise(0L)).as("n_flag"),
          countDistinct(col("label")).as("n_labels"))
        .orderBy("name", "user_id", "bucket_s")
    }),
    // mid-stream SCHEMA CHANGE (per-write combination 0101 + schema
    // re-encode + full field-state reset): one stream per series,
    // the flag field dropped from 2024-01-15 on — decode surfaces
    // null flags for the 3-field segment, non-null before it
    "store_proto_schema" -> ((s, dir) => {
      val blocks = graft.sources.ProtoStore.schemaChangeBlockFrame(
        protoMsgs(s, dir), 1705276800L)
      val cents = round(col("amount") * 100, 0).cast("long")
      graft.sources.ProtoStore.decodeSchemaChange(blocks)
        .withColumn("bucket_s", Vectors.bucketS("hour"))
        .groupBy("name", "user_id", "bucket_s")
        .agg(count(lit(1)).as("n"), sum(cents).as("sum_c"),
          sum(col("qty")).as("sum_qty"),
          sum(when(col("flag").isNotNull, 1L).otherwise(0L)).as("n_flag"),
          sum(when(col("flag") === true, 1L).otherwise(0L))
            .as("n_flag_true"),
          countDistinct(col("label")).as("n_labels"))
        .orderBy("name", "user_id", "bucket_s")
    }),
    // the LRU-dictionary + int-tracker census per block: new-entry /
    // index-hit / no-change write counts are lag-replayable because
    // the label never exceeds the LRU capacity (no evictions)
    "store_proto_cost" -> ((s, dir) =>
      protoBlocks(s, dir)
        .select(col("name"), col("user_id"), col("block"), col("n"),
          col("bytes_new"), col("bytes_idx_hits"), col("bytes_nochange"),
          col("int_nochange"))
        .orderBy("name", "user_id", "block")),
    // the float-salted store: decode must return the exact salted
    // doubles through the XOR path (micro-units keep the census
    // integer-exact on both engines)
    "store_tsz_float" -> ((s, dir) => {
      val micros = round(col("value") * 1e6, 0).cast("long")
      graft.sources.TszStore.readDecoded(s, tszFloatTable(s, dir))
        .withColumn("bucket_s", Vectors.bucketS("hour"))
        .groupBy("name", "user_id", "bucket_s")
        .agg(count(lit(1)).as("n"),
          sum(micros).as("sum_u"), min(micros).as("min_u"),
          max(micros).as("max_u"))
        .orderBy("name", "user_id", "bucket_s")
    }),
    // per-series at-rest size card read from the STORED tsz table's
    // metadata columns — the oracle recomputes both halves (micros
    // dod buckets + the int-diff value chain) independently from raw
    // events, so a codec/metadata drift cannot hide
    "store_tsz_stats" -> ((s, dir) =>
      s.table(tszTable(s, dir))
        .groupBy("name", "user_id")
        .agg(sum("n").as("n_samples"), count(lit(1)).as("n_blocks"),
          sum("ts_bits").as("ts_bits"), sum("val_bits").as("val_bits"))
        .withColumn("total_bits", col("ts_bits") + col("val_bits"))
        .withColumn("vs_raw128",
          round(lit(128.0) * col("n_samples") / col("total_bits"), 6))
        .orderBy("name", "user_id")),
    "store_zorder" -> ((s, dir) => {
      val t = zorderTable(s, dir)
      val l = graft.sources.ZOrderStore.layoutOf(s, t)
      val dFrom = l.minDay + l.daySpan * 3 / 10
      val dUntil = math.max(dFrom + 1, l.minDay + l.daySpan * 7 / 10)
      val uFrom = l.minUser + l.userSpan * 2 / 10
      val uUntil = math.max(uFrom + 1, l.minUser + l.userSpan * 8 / 10)
      graft.sources.ZOrderStore.fetchBox(s, t, dFrom, dUntil, uFrom, uUntil)
        .select(col("event_id"),
          graft.sources.ZOrderStore.epochDay(col("ts")).as("day"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }),
    "store_fetch" -> ((s, dir) =>
      Fetch(graft.sources.SeriesStore.read(s, storeTable(s, dir),
          fromDt = Some("2024-01-03"), untilDt = Some("2024-01-10")).drop("dt"),
        Seq(Fetch.Matcher("name", Fetch.Eq, "purchase")),
        startS = Some(1704240000L), endS = Some(1704844800L))
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"), col("value"), col("event_id"))
        .orderBy("event_id")),
    // PromQL text evaluated END-TO-END over the bucketed store — the
    // full integration a reference user runs: parse → fetch from the
    // physical layout → rate → sum. The per-series rate stage reads
    // its (name, user_id) distribution from the buckets (no exchange
    // before the window — PlanSpec audits it); only the final
    // sum by (name) shuffles. Byte-identical to pql_rate_sum's
    // direct-path results, same oracle.
    "store_pql" -> ((s, dir) =>
      graft.promql.PromQL.query(
        graft.sources.SeriesStore.read(s, storeTable(s, dir)).drop("dt"),
        """sum by (name) (rate({name=~"(pur|cli).*"}[1d]))""")
        .select(col("name"), col("bucket_s"), round(col("value"), 9).as("value"))
        .orderBy("name", "bucket_s")),
    // the RANGE front door against the at-rest layout: the identical
    // Grafana-shaped request as pql_range, reading the bucketed
    // dt-partitioned store — byte-identical to the direct path, same
    // oracle (the physical layout changes nothing but the plan)
    "store_pql_range" -> ((s, dir) =>
      graft.promql.PromQL.rangeQuery(
        graft.sources.SeriesStore.read(s, storeTable(s, dir)).drop("dt"),
        """sum by (name) (rate({name=~"(pur|cli).*"}[6h]))""",
        1704240000L, 1706313600L, 10800L)
        .select(col("name"), col("bucket_s"), round(col("value"), 9).as("value"))
        .orderBy("name", "bucket_s")),
    // Graphite target text evaluated END-TO-END over the bucketed
    // store — the third front door over the physical layout
    // (store_fetch = matchers, store_pql = PromQL, this = graphite):
    // path-tree expansion, wildcard match and summarize all read the
    // bucketed frame; byte-identical to the direct-path evaluation
    "store_graphite" -> ((s, dir) =>
      graft.graphite.GraphiteParser.query(
        graft.sources.SeriesStore.read(s, storeTable(s, dir)).drop("dt"),
        """summarize(events.purchase.*, "1d", "sum")""")
        .select(col("path"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("path", "bucket_s")),
    // the extended glob dialect end-to-end over the bucketed store:
    // brace alternation resolved against the physical layout,
    // byte-identical to the direct-path gq_glob_brace (same oracle
    // shape)
    "store_glob" -> ((s, dir) =>
      graft.graphite.GraphiteParser.query(
        graft.sources.SeriesStore.read(s, storeTable(s, dir)).drop("dt"),
        """summarize(events.{purchase,signup}.*, "1d", "sum")""")
        .select(col("path"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("path", "bucket_s")),
    // ...and M3QL, closing the set: every query front end the engine
    // carries (matcher fetch, PromQL, Graphite, M3QL) runs over the
    // physical layout, byte-identical to its direct path
    "store_m3ql" -> ((s, dir) =>
      graft.m3ql.M3QL.query(
        graft.sources.SeriesStore.read(s, storeTable(s, dir)).drop("dt"),
        "fetch name:* | avg name | >= 48.7")
        .select(col("name"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "bucket_s")),
    "ds_multi_res" -> ((s, dir) =>
      Downsample.multiResolution(samples(s, dir))
        .orderBy("resolution", "name", "user_id", "bucket_s")),
    // an ARBITRARY policy stack (policy.go:45): 10m:14d, 1h:30d,
    // 1d:365d as of a fixed evaluation time — 1h composes from the
    // 10m tier, 1d from the 1h tier (only the 10m tier reads raw
    // samples), and each tier's retention trims its own history
    "ds_policy_stack" -> ((s, dir) =>
      Downsample.policyStack(samples(s, dir), Seq(
        Downsample.Policy("10m", 14L * 86400L),
        Downsample.Policy("1h", 30L * 86400L),
        Downsample.Policy("1d", 365L * 86400L)),
        nowS = Some(1706745600L))
        .orderBy("resolution", "name", "user_id", "bucket_s")),
    "ds_restrict_type" -> ((s, dir) =>
      // RestrictByType pinned to the aggregated 1d tier with a 21-day
      // retention as of a fixed evaluation time — only buckets inside
      // the policy's retention window belong to the namespace
      Downsample.restrictByType(samples(s, dir),
        Downsample.Aggregated("1d", 21L * 86400L), nowS = 1706745600L)
        .orderBy("name", "user_id", "bucket_s")),
    // automatic namespace resolution (cluster_resolver.go:142): as of
    // Feb 1 with a 7d raw retention, a Jan-11 query start outruns both
    // the unaggregated namespace and the 10m:14d tier; the FINEST
    // covering aggregated policy (1h:30d) wins, its retention floors
    // the namespace, and the query range bounds the result
    // RestrictByTypes (plural): raw + pinned 1d:21d tier resolved
    // independently and unioned, each row tagged by its namespace's
    // resolution — the one-query raw-vs-rollup comparison
    "ds_restrict_types" -> ((s, dir) =>
      Downsample.restrictByTypes(samples(s, dir), Seq(
        Downsample.Unaggregated,
        Downsample.Aggregated("1d", 21L * 86400L)), nowS = 1706745600L)
        .select(col("name"), col("user_id"), col("resolution"), col("ts_s"),
          round(col("value"), 6).as("value"))
        .orderBy("resolution", "name", "user_id", "ts_s", "value")),
    "ds_auto_res" -> ((s, dir) =>
      Downsample.fetchAuto(samples(s, dir), 7L * 86400L, Seq(
        Downsample.Policy("10m", 14L * 86400L),
        Downsample.Policy("1h", 30L * 86400L),
        Downsample.Policy("1d", 365L * 86400L)),
        nowS = 1706745600L, startS = 1704931200L)
        .orderBy("name", "user_id", "bucket_s")),
    // the resolved namespace served AS SERIES: the 1h tier's mean
    // becomes the datapoints, timestamped at the bucket — the form
    // the query engine consumes regardless of which tier won
    "ds_auto_series" -> ((s, dir) =>
      Downsample.fetchAutoSeries(samples(s, dir), 7L * 86400L, Seq(
        Downsample.Policy("10m", 14L * 86400L),
        Downsample.Policy("1h", 30L * 86400L),
        Downsample.Policy("1d", 365L * 86400L)),
        nowS = 1706745600L, startS = 1704931200L)
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"), col("value"))
        .orderBy("name", "user_id", "ts_s")),
    // multi-namespace FANOUT (fanoutStorage, storage/fanout/
    // storage.go:50 + mustStitchWithUnaggregated, cluster_resolver
    // .go:484): same resolution as ds_auto_series — the 1h:30d tier
    // wins the Jan-11 start — but a 2-day rollup latency narrows the
    // tier to buckets before Jan 30 00:00 (dataAvailableUntil,
    // truncated to the resolution); the unaggregated namespace serves
    // [Jan 30, Feb 1) raw, and the stitched union is the result.
    // Two pruned branches, never a full double-scan.
    "ds_fanout" -> ((s, dir) =>
      Downsample.fetchFanoutSeries(samples(s, dir), 7L * 86400L, Seq(
        Downsample.Policy("10m", 14L * 86400L),
        Downsample.Policy("1h", 30L * 86400L),
        Downsample.Policy("1d", 365L * 86400L)),
        nowS = 1706745600L, startS = 1704931200L, aggLatencyS = 2L * 86400L)
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"),
          round(col("value"), 6).as("value"))
        .orderBy("name", "user_id", "ts_s", "value")),
    // ...and the same stitched fanout THROUGH the physical layout:
    // both namespace branches read the dt-partitioned bucketed store
    // (the raw-recent branch's [Jan 30, Feb 1) bound prunes to two
    // dt= days at planning time), byte-identical to ds_fanout's
    // direct path, same oracle
    "store_fanout" -> ((s, dir) =>
      Downsample.fetchFanoutSeries(
        graft.sources.SeriesStore.read(s, storeTable(s, dir)).drop("dt"),
        7L * 86400L, Seq(
          Downsample.Policy("10m", 14L * 86400L),
          Downsample.Policy("1h", 30L * 86400L),
          Downsample.Policy("1d", 365L * 86400L)),
        nowS = 1706745600L, startS = 1704931200L, aggLatencyS = 2L * 86400L)
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"),
          round(col("value"), 6).as("value"))
        .orderBy("name", "user_id", "ts_s", "value")),
    // the OTHER resolveTier branch: a 3-day query start sits inside
    // the 7d raw retention, so the unaggregated namespace wins and
    // the fetch is the plain bounded sample scan
    "ds_auto_res_raw" -> ((s, dir) =>
      Downsample.fetchAuto(samples(s, dir), 7L * 86400L, Seq(
        Downsample.Policy("10m", 14L * 86400L),
        Downsample.Policy("1h", 30L * 86400L),
        Downsample.Policy("1d", 365L * 86400L)),
        nowS = 1706745600L, startS = 1706486400L)
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"), col("value"), col("event_id"))
        .orderBy("event_id")),
    "ds_rules" -> ((s, dir) =>
      Downsample.rollupRules(samples(s, dir), Seq(
        Downsample.Rule("purchases_hourly",
          Seq(Fetch.Matcher("name", Fetch.Eq, "purchase")),
          "hour", Seq("sum", "count", "max")),
        Downsample.Rule("clicks_daily",
          Seq(Fetch.Matcher("name", Fetch.Eq, "click")),
          "day", Seq("mean", "last")),
        Downsample.Rule("all_daily",
          Seq(Fetch.Matcher("name", Fetch.Re, ".*")),
          "day", Seq("count")),
        Downsample.Rule("errors_daily",
          Seq(Fetch.Matcher("name", Fetch.Eq, "error")),
          "day", Seq("stdev", "p95", "sum_sq"))))
        .orderBy("rule", "name", "user_id", "bucket_s", "agg")),

    // rollup TARGETS (rollup_target.go:42): aggregate across a tag
    // subset, emit under a NEW metric name — the "sum all hosts into
    // service_requests_total" form. Three shapes: GroupBy [] (all
    // dims dropped, one literal-named series), GroupBy [user_id]
    // with the {{ .MetricName }} template (per-user series renamed
    // from the original), ExcludeBy [user_id] (drop the user dim,
    // keep the rest). Dropped dims surface as null columns so the
    // heterogeneous targets union and stay Fetch-able.
    "ds_rollup_target" -> ((s, dir) =>
      Downsample.rollupTargets(samples(s, dir), Seq(
        Downsample.RollupRule("svc_rollup",
          Seq(Fetch.Matcher("name", Fetch.Re, "(purchase|click)")),
          Seq(
            Downsample.RollupTarget("service_events_total",
              Downsample.GroupBy, Nil, Seq("sum", "count"), "day"),
            Downsample.RollupTarget("{{ .MetricName }}_by_user",
              Downsample.GroupBy, Seq("user_id"), Seq("sum"), "day"))),
        Downsample.RollupRule("errors_rollup",
          Seq(Fetch.Matcher("name", Fetch.Eq, "error")),
          Seq(Downsample.RollupTarget("errors_all", Downsample.ExcludeBy,
            Seq("user_id"), Seq("count", "p95"), "day")))))
        .orderBy("rule", "name", "user_id", "bucket_s", "agg")),

    // KeepOriginal write routing (rules/rollup.go:122): purchases
    // are consumed by a default rollup rule (dropped from the
    // unaggregated path), clicks by a keepOriginal rule (pass
    // through), everything unmatched passes through
    "ds_rollup_keep" -> ((s, dir) =>
      Downsample.rollupRoute(samples(s, dir), Seq(
        Downsample.RollupRule("drop_purchases",
          Seq(Fetch.Matcher("name", Fetch.Eq, "purchase")),
          Seq(Downsample.RollupTarget("purchases_total",
            Downsample.GroupBy, Nil, Seq("sum"), "day"))),
        Downsample.RollupRule("keep_clicks",
          Seq(Fetch.Matcher("name", Fetch.Eq, "click")),
          Seq(Downsample.RollupTarget("clicks_total",
            Downsample.GroupBy, Nil, Seq("sum"), "day")),
          keepOriginal = true)))
        .original
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"), col("value"), col("event_id"))
        .orderBy("event_id")),

    // m3 rule tag-filter grammar (metrics/filters): glob patterns
    // with {alternation}, ? single-char, trailing *, and ! negation,
    // compiled to the same anchored-regex matcher conjunction every
    // fetch uses
    "ds_rule_filter" -> ((s, dir) =>
      Fetch(samples(s, dir),
        Fetch.tagsFilter("name:{purchase,click}* user_id:!1?"))
        .select(col("name"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_s"), col("value"), col("event_id"))
        .orderBy("event_id")),

    // rollup pipelines (pipeline ops before the RollupOp,
    // metrics/transformation): Increase → sum (counter-delta daily
    // total), PerSecond → max (peak rate), Add → last (running sum
    // sampled at window close), each per ORIGINAL series then
    // aggregated across users under the templated new name
    "ds_rollup_pipeline" -> ((s, dir) =>
      Downsample.rollupTargets(samples(s, dir), Seq(
        Downsample.RollupRule("pipe",
          Seq(Fetch.Matcher("name", Fetch.Re, "(purchase|click)")),
          Seq(
            Downsample.RollupTarget("{{ .MetricName }}_inc_daily",
              Downsample.GroupBy, Seq("user_id"), Seq("sum"), "day",
              transforms = Seq("Increase")),
            Downsample.RollupTarget("{{ .MetricName }}_rate_daily",
              Downsample.GroupBy, Seq("user_id"), Seq("max"), "day",
              transforms = Seq("PerSecond")),
            Downsample.RollupTarget("{{ .MetricName }}_cum_daily",
              Downsample.GroupBy, Seq("user_id"), Seq("last"), "day",
              transforms = Seq("Add"))))))
        .orderBy("rule", "name", "user_id", "bucket_s", "agg")),

    // influx line-protocol roundtrip: render every event as a line
    // (`<measurement>,user_id=<uid> value=<v> <epoch-ns>`), parse
    // through the InfluxLine source (field fan-out names the series
    // `<measurement>_value` per the reference's write handler),
    // consolidate hourly. The oracle computes the same aggregate
    // from the table directly — parse ∘ render = identity, doubles
    // round-trip exactly through Double.toString.
    "ts_influx" -> ((s, dir) => {
      val lines = Vectors.samples(Tables.events(s, dir)).select(
        format_string("%s,user_id=%d value=%s %d",
          col("name"), col("user_id"), col("value"),
          unix_micros(col("ts")) * 1000).as("line"))
      graft.sources.InfluxLine
        .toSampleFrame(graft.sources.InfluxLine.parse(Tables.fan(lines, col("line"))), Seq("user_id"))
        .select(col("name"), col("user_id").cast("long").as("user_id"),
          col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "user_id", "bucket_s")
    }),

    // Prometheus text exposition-format roundtrip: render every event
    // as a scrape line (name{user="N"} value ts-ms) salted with HELP/
    // TYPE comments and one malformed line per partition — comments
    // skip, malformed drops-and-counts, samples consolidate hourly
    "ts_exposition" -> ((s, dir) => {
      val ev = Vectors.samples(Tables.events(s, dir))
      val lines = ev.select(
        format_string("%s{user=\"%d\"} %s %d",
          col("name"), col("user_id"), col("value"),
          unix_millis(col("ts"))).as("line"))
        .unionAll(ev.limit(3).select(
          format_string("# HELP %s synthetic scrape", col("name"))
            .as("line")))
        .unionAll(ev.limit(2).select(
          lit("bad_line{user=} oops").as("line")))
      graft.sources.Exposition
        .toSeriesFrame(graft.sources.Exposition.parse(Tables.fan(lines, col("line"))), "user")
        .select(col("name"), col("user").cast("long").as("user_id"),
          col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "user_id", "bucket_s")
    }),

    // scrape archive → at-rest layout → query, END-TO-END: the
    // parsed exposition samples are WRITTEN into the dt-partitioned
    // series-bucketed SeriesStore layout and the consolidation reads
    // back THROUGH it — byte-identical to ts_exposition's direct
    // path (same oracle), with the hourly agg reading its series
    // distribution from the buckets
    "store_scrape" -> ((s, dir) => {
      val t = scrapeStoreTable(s, dir)
      graft.sources.SeriesStore.read(s, t).drop("dt")
        .groupBy(col("name"), col("user_id"),
          Vectors.bucketS("hour").as("bucket_s"))
        .agg(round(avg("value"), 6).as("value"))
        .orderBy("name", "user_id", "bucket_s")
    }),

    // JSON write-request roundtrip: render every event as the
    // coordinator's JSON write body ({"tags": {__name__, user_id},
    // "timestamp": "<epoch.millis>", "value": v}), parse through the
    // JsonWrite source, consolidate hourly. Zero-valued samples are
    // excluded on BOTH sides: the reference's validator rejects
    // value == 0 (write.go:76 validate:"nonzero"), so the oracle
    // filters them too — the quirk is part of the contract.
    "ts_json_write" -> ((s, dir) => {
      val lines = Vectors.samples(Tables.events(s, dir)).select(
        to_json(struct(
          map(lit("__name__"), col("name"),
            lit("user_id"), col("user_id").cast("string")).as("tags"),
          format_string("%d.%03d", unix_timestamp(col("ts")),
            ((unix_micros(col("ts")) % 1000000L) / 1000L).cast("long"))
            .as("timestamp"),
          col("value"))).as("line"))
      graft.sources.JsonWrite
        .toSampleFrame(graft.sources.JsonWrite.parse(Tables.fan(lines, col("line"))), Seq("user_id"))
        .select(col("name"), col("user_id").cast("long").as("user_id"),
          col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "user_id", "bucket_s")
    }),

    // prometheus remote-write roundtrip — the coordinator's PRIMARY
    // write path (write.go NewPromWriteHandler), over the pre-parsed
    // frame (protobuf wire format out of scope): every event becomes
    // one (labels[], ts, value) request row with __name__ + user_id
    // labels, a map-tags `write` op upserts dc=east onto every
    // series (the M3-Map-Tags-JSON header), parse validates the
    // label sets, consolidation hands off hourly. The oracle
    // computes the same aggregate from the table directly with the
    // constant dc column — parse ∘ render = identity on valid sets.
    "ts_prom_write" -> ((s, dir) => {
      val req = Vectors.samples(Tables.events(s, dir)).select(
        array(
          struct(lit("__name__").as("name"), col("name").as("value")),
          struct(lit("user_id").as("name"),
            col("user_id").cast("string").as("value"))).as("labels"),
        col("ts"), col("value"))
      val mapped = graft.sources.PromWrite.mapTags(req,
        Seq(graft.sources.PromWrite.WriteTag("dc", "east")))
      // fan key: the whole request row, not `ts` — a bucket-aligned
      // or repeated-timestamp write batch would concentrate a
      // ts-keyed hash on a few partitions and defeat the fan-out;
      // (labels, ts) is near-unique by construction like the other
      // parsers' `line`/`doc_id` keys
      graft.sources.PromWrite
        .toSampleFrame(graft.sources.PromWrite.parse(
          Tables.fan(mapped, struct(col("labels"), col("ts")))),
          Seq("user_id", "dc"))
        .select(col("name"), col("user_id").cast("long").as("user_id"),
          col("dc"), col("bucket_s"), round(col("value"), 6).as("value"))
        .orderBy("name", "user_id", "bucket_s")
    })
  )

  val oracles: Map[String, String] = withSharedOracles(Map(
    "ts_cardinality" ->
      s"""WITH series AS (SELECT DISTINCT name,
         |  CAST(user_id AS VARCHAR) AS user_id FROM ($S) AS s),
         | pl AS (SELECT 'name' AS label, count(DISTINCT name) AS n_values
         |   FROM series
         |  UNION ALL
         |  SELECT 'user_id' AS label, count(DISTINCT user_id) AS n_values
         |   FROM series)
         | SELECT (SELECT count(*) FROM series) AS n_series,
         |  (SELECT count(*) FROM pl) AS n_labels,
         |  t.label AS top_label, t.n_values AS top_label_values
         | FROM (SELECT label, n_values FROM pl
         |  ORDER BY n_values DESC, label ASC LIMIT 1) AS t""".stripMargin.replace("\n", " "),
    "ts_index_tags" ->
      s"""WITH m AS (SELECT DISTINCT name, CAST(user_id AS VARCHAR) AS user_id
         |  FROM ($S) AS s WHERE regexp_full_match(name, '(pur|si).*'))
         | SELECT DISTINCT tag_name, tag_value FROM (
         |  SELECT 'name' AS tag_name, name AS tag_value FROM m
         |  UNION ALL
         |  SELECT 'user_id' AS tag_name, user_id AS tag_value FROM m) AS u
         | WHERE tag_value IS NOT NULL
         | ORDER BY tag_name, tag_value""".stripMargin.replace("\n", " "),
    "ts_index_fetch" ->
      s"""SELECT name, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value, event_id
         | FROM ($S) AS s
         | WHERE regexp_full_match(name, '(pur|cli).*')
         |  AND regexp_full_match(CAST(user_id AS VARCHAR), '[0-9]*[13579]')
         |  AND floor(epoch(ts)) >= 1704067200 AND floor(epoch(ts)) < 1705276800
         | ORDER BY event_id""".stripMargin.replace("\n", " "),
    // byte-equal to ts_index_fetch: the store route must reproduce
    // the scan route exactly over the same bounds
    "store_index_fetch" ->
      s"""SELECT name, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value, event_id
         | FROM ($S) AS s
         | WHERE regexp_full_match(name, '(pur|cli).*')
         |  AND regexp_full_match(CAST(user_id AS VARCHAR), '[0-9]*[13579]')
         |  AND floor(epoch(ts)) >= 1704067200 AND floor(epoch(ts)) < 1705276800
         | ORDER BY event_id""".stripMargin.replace("\n", " "),
    // the scan-route replay of the block-segmented index completion:
    // distinct matching series PRESENT in day blocks [19725, 19732)
    "ts_index_tags_range" ->
      s"""WITH m AS (SELECT DISTINCT name,
         |  CAST(user_id AS VARCHAR) AS user_id
         |  FROM ($S) AS s
         |  WHERE regexp_full_match(name, '(pur|cli).*')
         |   AND regexp_full_match(CAST(user_id AS VARCHAR),
         |    '[0-9]*[13579]')
         |   AND floor(epoch(ts) / 86400) >= 19725
         |   AND floor(epoch(ts) / 86400) < 19732)
         | SELECT DISTINCT tag_name, tag_value FROM (
         |  SELECT 'name' AS tag_name, name AS tag_value FROM m
         |  UNION ALL
         |  SELECT 'user_id' AS tag_name, user_id AS tag_value FROM m) AS u
         | WHERE tag_value IS NOT NULL
         | ORDER BY tag_name, tag_value""".stripMargin.replace("\n", " "),
    "ts_fetch_eq" ->
      s"""SELECT name, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value, event_id
         | FROM ($S) AS s
         | WHERE name = 'purchase' AND floor(epoch(ts)) >= 1704067200
         |  AND floor(epoch(ts)) < 1705276800
         | ORDER BY event_id""".stripMargin.replace("\n", " "),
    "store_fetch" ->
      s"""SELECT name, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value, event_id
         | FROM ($S) AS s
         | WHERE name = 'purchase' AND floor(epoch(ts)) >= 1704240000
         |  AND floor(epoch(ts)) < 1704844800
         | ORDER BY event_id""".stripMargin.replace("\n", " "),
    // independent recomputation of BOTH stored bit totals: the value
    // chain via the shared recursive CTE, the timestamp half via two
    // lags per block under the Microsecond dod scheme (1/9/12/16/68)
    "store_tsz_stats" ->
      s"""WITH RECURSIVE ${tszValueChainCtes(S)},
         | us AS (SELECT name, user_id,
         |   CAST(floor(epoch(ts) / 86400) AS BIGINT) AS block,
         |   epoch_us(ts) AS us, ts, event_id FROM ($S) AS s
         |  WHERE value IS NOT NULL),
         | dd AS (SELECT name, user_id, block, ts, event_id,
         |   us - lag(us) OVER wp AS d FROM us
         |  WINDOW wp AS (PARTITION BY name, user_id, block
         |   ORDER BY ts, event_id)),
         | d2 AS (SELECT name, user_id, d,
         |   d - coalesce(lag(d) OVER wp2, 0) AS dod FROM dd
         |  WINDOW wp2 AS (PARTITION BY name, user_id, block
         |   ORDER BY ts, event_id)),
         | tsb AS (SELECT name, user_id,
         |   CASE WHEN d IS NULL THEN 64 WHEN dod = 0 THEN 1
         |    WHEN dod BETWEEN -64 AND 63 THEN 9
         |    WHEN dod BETWEEN -256 AND 255 THEN 12
         |    WHEN dod BETWEEN -2048 AND 2047 THEN 16
         |    ELSE 68 END AS bits FROM d2),
         | tsum AS (SELECT name, user_id,
         |   CAST(sum(bits) AS BIGINT) AS ts_bits FROM tsb GROUP BY 1, 2),
         | vsum AS (SELECT name, user_id,
         |   CAST(sum(idx) AS BIGINT) AS n_samples,
         |   count(*) AS n_blocks,
         |   CAST(sum(bits) AS BIGINT) AS val_bits
         |  FROM last GROUP BY 1, 2)
         | SELECT v.name, v.user_id, v.n_samples, v.n_blocks,
         |  t.ts_bits, v.val_bits,
         |  CAST(t.ts_bits + v.val_bits AS BIGINT) AS total_bits,
         |  round(128.0 * v.n_samples / (t.ts_bits + v.val_bits), 6)
         |   AS vs_raw128
         | FROM vsum v JOIN tsum t ON t.name = v.name
         |  AND t.user_id = v.user_id
         | ORDER BY v.name, v.user_id""".stripMargin.replace("\n", " "),
    // the m3tsz store is invisible to semantics: hourly count +
    // integer-cent sum/min/max over DECODED blocks equal the same
    // census over raw events — the round-trip-exactness oracle
    "store_tsz" ->
      s"""SELECT name, user_id,
         | CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
         |  AS bucket_s,
         | count(*) AS n,
         | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c,
         | min(CAST(round(value * 100) AS BIGINT)) AS min_c,
         | max(CAST(round(value * 100) AS BIGINT)) AS max_c
         | FROM ($S) AS s WHERE value IS NOT NULL GROUP BY 1, 2, 3
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // annotation round trip: decoded prevailing annotation per point
    // == last non-null annotation at-or-before the point within its
    // block (ROWS frame — ties on ts_us disambiguate by event_id,
    // the encoder's intra-block sort)
    "store_tsz_ann" ->
      s"""WITH s AS (SELECT event_type AS name, user_id,
         |  epoch_us(ts) AS ts_us, event_id, value,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  CAST(floor(epoch(ts) / 86400) AS BIGINT) AS block,
         |  CASE WHEN hour(ts) >= 6
         |   THEN 'h' || lpad(CAST(hour(ts) AS VARCHAR), 2, '0') END AS ann
         |  FROM events WHERE value IS NOT NULL),
         | p AS (SELECT name, user_id, bucket_s, value,
         |  last_value(ann IGNORE NULLS) OVER (
         |   PARTITION BY name, user_id, block ORDER BY ts_us, event_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS annotation
         | FROM s)
         | SELECT name, user_id, bucket_s, annotation, count(*) AS n,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c
         | FROM p GROUP BY 1, 2, 3, 4
         | ORDER BY name, user_id, bucket_s, annotation""".stripMargin
        .replace("\n", " "),
    // annotation bit accounting: a write at every row whose non-null
    // annotation differs from the prevailing one BEFORE it (first
    // non-null in a block always writes); each write costs the 9+2
    // marker + a varint of len−1 (1 byte through len 64, 2 through
    // 8256 — zigzag 7-bit groups) + 8·len payload bits
    "store_tsz_ann_cost" ->
      s"""WITH s AS (SELECT event_type AS name, user_id,
         |  epoch_us(ts) AS ts_us, event_id, value,
         |  CAST(floor(epoch(ts) / 86400) AS BIGINT) AS block,
         |  CASE WHEN hour(ts) >= 6
         |   THEN 'h' || lpad(CAST(hour(ts) AS VARCHAR), 2, '0') END AS ann
         |  FROM events WHERE value IS NOT NULL),
         | w AS (SELECT name, user_id, block, ann,
         |   last_value(ann IGNORE NULLS) OVER (
         |    PARTITION BY name, user_id, block ORDER BY ts_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb
         |  FROM s),
         | wr AS (SELECT name, user_id, block,
         |   sum(11 + 8 * (CASE WHEN length(ann) <= 64 THEN 1
         |     WHEN length(ann) <= 8256 THEN 2 ELSE 3 END)
         |     + 8 * length(ann)) AS ant_bits
         |  FROM w WHERE ann IS NOT NULL AND (pb IS NULL OR ann <> pb)
         |  GROUP BY 1, 2, 3),
         | b AS (SELECT name, user_id, block, count(*) AS n
         |  FROM s GROUP BY 1, 2, 3)
         | SELECT b.name, b.user_id, b.block, b.n,
         |  CAST(coalesce(wr.ant_bits, 0) AS BIGINT) AS ant_bits
         | FROM b LEFT JOIN wr USING (name, user_id, block)
         | ORDER BY name, user_id, block""".stripMargin.replace("\n", " "),
    // proto codec round trip: the hourly 4-field census over decoded
    // messages equals the same census over the raw construction
    "store_proto" ->
      s"""WITH s AS (SELECT event_type AS name, user_id, ts,
         |  value AS amount,
         |  CAST(floor(value / 10) AS BIGINT) AS qty,
         |  'q' || CAST(CAST(floor(hour(ts) / 6) AS INT) AS VARCHAR) AS label,
         |  (event_id % 3 = 0) AS flag
         |  FROM events WHERE value IS NOT NULL)
         | SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  count(*) AS n,
         |  CAST(sum(CAST(round(amount * 100) AS BIGINT)) AS BIGINT) AS sum_c,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flag,
         |  count(DISTINCT label) AS n_labels
         | FROM s GROUP BY 1, 2, 3
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // schema-change round trip: flag is non-null exactly for writes
    // encoded before the split (the 4-field segment), null after
    "store_proto_schema" ->
      s"""WITH s AS (SELECT event_type AS name, user_id, ts,
         |  value AS amount,
         |  CAST(floor(value / 10) AS BIGINT) AS qty,
         |  'q' || CAST(CAST(floor(hour(ts) / 6) AS INT) AS VARCHAR) AS label,
         |  CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < 1705276800
         |   THEN (event_id % 3 = 0) END AS flag
         |  FROM events WHERE value IS NOT NULL)
         | SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  count(*) AS n,
         |  CAST(sum(CAST(round(amount * 100) AS BIGINT)) AS BIGINT) AS sum_c,
         |  CAST(sum(qty) AS BIGINT) AS sum_qty,
         |  CAST(sum(CASE WHEN flag IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_flag,
         |  CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_flag_true,
         |  count(DISTINCT label) AS n_labels
         | FROM s GROUP BY 1, 2, 3
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // dictionary/tracker write census: first occurrence per (block,
    // label) = full write, later occurrences behind a change = LRU
    // index hit, equal-to-previous = the single no-change bit;
    // int no-change = zero qty delta
    "store_proto_cost" ->
      s"""WITH s AS (SELECT event_type AS name, user_id,
         |  epoch_us(ts) AS ts_us, event_id,
         |  CAST(floor(value / 10) AS BIGINT) AS qty,
         |  'q' || CAST(CAST(floor(hour(ts) / 6) AS INT) AS VARCHAR) AS label,
         |  CAST(floor(epoch(ts) / 86400) AS BIGINT) AS block
         |  FROM events WHERE value IS NOT NULL),
         | w AS (SELECT name, user_id, block, label, qty,
         |   lag(label) OVER win AS pl, lag(qty) OVER win AS pq,
         |   row_number() OVER (PARTITION BY name, user_id, block, label
         |     ORDER BY ts_us, event_id) AS occ
         |  FROM s WINDOW win AS (
         |   PARTITION BY name, user_id, block ORDER BY ts_us, event_id))
         | SELECT name, user_id, block, count(*) AS n,
         |  CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS bytes_new,
         |  CAST(sum(CASE WHEN occ > 1 AND (pl IS NULL OR label <> pl)
         |   THEN 1 ELSE 0 END) AS BIGINT) AS bytes_idx_hits,
         |  CAST(sum(CASE WHEN label = pl THEN 1 ELSE 0 END) AS BIGINT)
         |   AS bytes_nochange,
         |  CAST(sum(CASE WHEN qty = pq THEN 1 ELSE 0 END) AS BIGINT)
         |   AS int_nochange
         | FROM w GROUP BY 1, 2, 3
         | ORDER BY name, user_id, block""".stripMargin.replace("\n", " "),
    // the float-salted blocks decode to the exact salted doubles —
    // micro-unit census over raw salted events (null filter matches
    // blockFrame's input filter)
    "store_tsz_float" ->
      s"""SELECT name, user_id,
         | CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
         |  AS bucket_s,
         | count(*) AS n,
         | CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_u,
         | min(CAST(round(value * 1e6) AS BIGINT)) AS min_u,
         | max(CAST(round(value * 1e6) AS BIGINT)) AS max_u
         | FROM ($SALTED) AS s WHERE value IS NOT NULL GROUP BY 1, 2, 3
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // the hourly purchase path frame summarized to 1d — identical to
    // the layout is invisible to semantics: the box fetch through
    // the z-ordered store equals a plain filtered scan; the box
    // bounds replay the engine's integer arithmetic over the extents
    "store_zorder" ->
      """WITH b AS (SELECT
        |  min(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS mnd,
        |  max(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS mxd,
        |  min(user_id) AS mnu, max(user_id) AS mxu FROM events),
        | bb AS (SELECT
        |  mnd + (mxd - mnd + 1) * 3 // 10 AS dfrom,
        |  greatest(mnd + (mxd - mnd + 1) * 7 // 10,
        |   mnd + (mxd - mnd + 1) * 3 // 10 + 1) AS duntil,
        |  mnu + (mxu - mnu + 1) * 2 // 10 AS ufrom,
        |  greatest(mnu + (mxu - mnu + 1) * 8 // 10,
        |   mnu + (mxu - mnu + 1) * 2 // 10 + 1) AS uuntil FROM b)
        | SELECT e.event_id,
        |  CAST(floor(epoch(e.ts) / 86400) AS BIGINT) AS day,
        |  e.user_id, e.event_type, e.value
        | FROM events AS e, bb
        | WHERE CAST(floor(epoch(e.ts) / 86400) AS BIGINT) >= bb.dfrom
        |  AND CAST(floor(epoch(e.ts) / 86400) AS BIGINT) < bb.duntil
        |  AND e.user_id >= bb.ufrom AND e.user_id < bb.uuntil
        | ORDER BY e.event_id""".stripMargin.replace("\n", " "),
    // the direct-path gr_summarize convention, restricted to the
    // wildcard's matches
    "store_graphite" ->
      """WITH pf AS (
        | SELECT 'events.' || name || '.user' || CAST(user_id AS VARCHAR) AS path,
        |  bucket_s, value FROM (
        |  SELECT name, user_id, bucket_s, value FROM (
        |   SELECT event_type AS name, user_id, value,
        |    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
        |    row_number() OVER (PARTITION BY event_type, user_id,
        |      date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC) AS rn
        |   FROM events WHERE event_type = 'purchase') AS t WHERE rn = 1) AS i)
        | SELECT path, CAST(floor(bucket_s / 86400) * 86400 AS BIGINT) AS bucket_s,
        |  round(sum(value), 6) AS value FROM pf
        | GROUP BY path, CAST(floor(bucket_s / 86400) * 86400 AS BIGINT)
        | ORDER BY path, bucket_s""".stripMargin.replace("\n", " "),
    "store_glob" ->
      """WITH pf AS (
        | SELECT 'events.' || name || '.user' || CAST(user_id AS VARCHAR) AS path,
        |  bucket_s, value FROM (
        |  SELECT name, user_id, bucket_s, value FROM (
        |   SELECT event_type AS name, user_id, value,
        |    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
        |    row_number() OVER (PARTITION BY event_type, user_id,
        |      date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC) AS rn
        |   FROM events WHERE event_type IN ('purchase', 'signup')) AS t
        |   WHERE rn = 1) AS i)
        | SELECT path, CAST(floor(bucket_s / 86400) * 86400 AS BIGINT) AS bucket_s,
        |  round(sum(value), 6) AS value FROM pf
        | GROUP BY path, CAST(floor(bucket_s / 86400) * 86400 AS BIGINT)
        | ORDER BY path, bucket_s""".stripMargin.replace("\n", " "),
    "ts_fetch_regex" ->
      s"""SELECT name, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value, event_id
         | FROM ($S) AS s
         | WHERE regexp_full_match(name, '(pur|cli).*')
         |  AND NOT regexp_full_match(name, 'cl.*k')
         |  AND user_id <> 7
         | ORDER BY event_id""".stripMargin.replace("\n", " "),
    "ts_fetch_restrict" ->
      s"""SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value, event_id
         | FROM ($S) AS s
         | WHERE regexp_full_match(CAST(user_id AS VARCHAR), '[0-9]*[02468]')
         |  AND regexp_full_match(name, 'view|cart')
         |  AND floor(epoch(ts)) >= 1704067200
         |  AND floor(epoch(ts)) < 1705276800
         | ORDER BY event_id""".stripMargin.replace("\n", " "),
    "ts_fetch_limit" ->
      s"""WITH f AS (SELECT name, user_id, ts, value, event_id
         |  FROM ($S) AS s WHERE regexp_full_match(name, '(pur|cli).*')),
         | ident AS (SELECT DISTINCT name, user_id FROM f),
         | kept AS (SELECT name, user_id FROM ident
         |  ORDER BY name, user_id LIMIT 12),
         | st AS (SELECT count(*) AS total_series FROM ident)
         | SELECT f.name, f.user_id,
         |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value, event_id,
         |  total_series, CAST(total_series > 12 AS INT) AS limited
         | FROM f JOIN kept USING (name, user_id) CROSS JOIN st
         | ORDER BY event_id""".stripMargin.replace("\n", " "),
    "ts_fetch_dp_limit" ->
      s"""WITH f AS (SELECT name, user_id, ts, value, event_id
         |  FROM ($S) AS s WHERE regexp_full_match(name, '(pur|cli).*')),
         | c AS (SELECT name, user_id, count(*) AS n FROM f GROUP BY 1, 2),
         | cum AS (SELECT name, user_id, sum(n) OVER (ORDER BY name, user_id
         |   ROWS UNBOUNDED PRECEDING) AS cumn FROM c),
         | kept AS (SELECT name, user_id FROM cum WHERE cumn <= 600),
         | st AS (SELECT count(*) AS total_datapoints FROM f)
         | SELECT f.name, f.user_id,
         |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value, event_id,
         |  total_datapoints, CAST(total_datapoints > 600 AS INT) AS limited
         | FROM f JOIN kept USING (name, user_id) CROSS JOIN st
         | ORDER BY event_id""".stripMargin.replace("\n", " "),
    "ts_complete_tags" ->
      s"""SELECT DISTINCT tag_name, tag_value FROM (
         | SELECT 'name' AS tag_name, name AS tag_value FROM ($S) AS s1
         |  WHERE regexp_full_match(name, '(pur|si).*')
         |   AND floor(epoch(ts)) >= 1704067200 AND floor(epoch(ts)) < 1706745600
         | UNION ALL
         | SELECT 'user_id' AS tag_name, CAST(user_id AS VARCHAR) AS tag_value
         |  FROM ($S) AS s2
         |  WHERE regexp_full_match(name, '(pur|si).*')
         |   AND floor(epoch(ts)) >= 1704067200 AND floor(epoch(ts)) < 1706745600
         | ) AS u WHERE tag_value IS NOT NULL
         | ORDER BY tag_name, tag_value""".stripMargin.replace("\n", " "),
    "ts_label_names" ->
      s"""SELECT DISTINCT tag_name FROM (
         | SELECT 'name' AS tag_name FROM ($S) AS s1
         |  WHERE regexp_full_match(name, '(pur|si).*')
         |   AND floor(epoch(ts)) >= 1704067200 AND floor(epoch(ts)) < 1706745600
         | UNION ALL
         | SELECT 'user_id' AS tag_name FROM ($S) AS s2
         |  WHERE regexp_full_match(name, '(pur|si).*') AND user_id IS NOT NULL
         |   AND floor(epoch(ts)) >= 1704067200 AND floor(epoch(ts)) < 1706745600)
         | AS u ORDER BY tag_name""".stripMargin.replace("\n", " "),
    "ts_label_values" ->
      s"""SELECT DISTINCT 'name' AS tag_name, name AS tag_value FROM ($S) AS s
         | WHERE regexp_full_match(CAST(user_id AS VARCHAR), '[0-9]')
         |  AND name IS NOT NULL
         | ORDER BY tag_name, tag_value""".stripMargin.replace("\n", " "),
    // namespace halves: distinct series per branch under the same
    // 1h-tier/raw latency-split windows as the ds_fanout oracle
    "ds_metadata_stats" -> {
      val f10 =
        """SELECT event_type AS name, user_id,
          | CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 AS bucket_s,
          | sum(value) AS sum_v, count(*) AS count_v
          | FROM events GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")
      s"""WITH a AS (SELECT DISTINCT name, user_id FROM (
         |  SELECT name, user_id,
         |   CAST(floor(bucket_s / 3600) AS BIGINT) * 3600 AS b
         |  FROM ($f10) AS f10
         |  GROUP BY 1, 2, 3
         |  HAVING b >= 1706745600 - 30 * 86400
         |   AND b >= 1704931200 AND b < 1706572800) AS az),
         | r AS (SELECT DISTINCT event_type AS name, user_id FROM events
         |  WHERE epoch(ts) >= 1706572800 AND epoch(ts) < 1706745600),
         | u AS (SELECT name, user_id, 'aggregated' AS tier FROM a
         |  UNION ALL
         |  SELECT name, user_id, 'unaggregated' AS tier FROM r),
         | st AS (SELECT name,
         |  CAST(count(DISTINCT CASE WHEN tier = 'aggregated'
         |   THEN user_id END) AS BIGINT) AS aggregated,
         |  CAST(count(DISTINCT CASE WHEN tier = 'unaggregated'
         |   THEN user_id END) AS BIGINT) AS unaggregated
         |  FROM u GROUP BY name)
         | SELECT * FROM (
         |  SELECT name, aggregated, unaggregated FROM st
         |  ORDER BY (aggregated + unaggregated) DESC, name ASC
         |  LIMIT 10) AS capped
         | ORDER BY name""".stripMargin.replace("\n", " ")
    },
    "ts_metadata_stats" ->
      s"""WITH ident AS (SELECT DISTINCT name, user_id FROM ($S) AS s
         |  WHERE regexp_full_match(CAST(user_id AS VARCHAR), '[0-9]*[0-5]')),
         | hit AS (SELECT DISTINCT name, user_id FROM ($S) AS s
         |  WHERE regexp_full_match(CAST(user_id AS VARCHAR), '[0-9]*[0-5]')
         |   AND floor(epoch(ts)) >= 1704067200
         |   AND floor(epoch(ts)) < 1704844800),
         | st AS (SELECT i.name,
         |   CAST(count(h.user_id) AS BIGINT) AS with_samples,
         |   CAST(count(*) - count(h.user_id) AS BIGINT) AS no_samples
         |  FROM ident i LEFT JOIN hit h
         |   ON h.name = i.name AND h.user_id = i.user_id
         |  GROUP BY i.name)
         | SELECT * FROM (
         |  SELECT name, with_samples, no_samples FROM st
         |  ORDER BY (with_samples + no_samples) DESC, name ASC LIMIT 4)
         |  AS capped
         | ORDER BY name""".stripMargin.replace("\n", " "),
    // limited tag-search surfaces: sorted-key truncation + the
    // {total_results, limited} broadcast stats on every row
    "ts_complete_tags_limit" ->
      s"""WITH u AS (SELECT DISTINCT tag_name, tag_value FROM (
         |  SELECT 'name' AS tag_name, name AS tag_value FROM ($S) AS s1
         |   WHERE regexp_full_match(name, '(pur|si).*')
         |    AND floor(epoch(ts)) >= 1704067200 AND floor(epoch(ts)) < 1706745600
         |  UNION ALL
         |  SELECT 'user_id' AS tag_name, CAST(user_id AS VARCHAR) AS tag_value
         |   FROM ($S) AS s2
         |   WHERE regexp_full_match(name, '(pur|si).*')
         |    AND floor(epoch(ts)) >= 1704067200 AND floor(epoch(ts)) < 1706745600
         |  ) AS z WHERE tag_value IS NOT NULL),
         | t AS (SELECT CAST(count(*) AS BIGINT) AS total_results FROM u)
         | SELECT k.tag_name, k.tag_value, t.total_results,
         |  CAST(t.total_results > 8 AS INT) AS limited
         | FROM (SELECT * FROM u ORDER BY tag_name, tag_value LIMIT 8) AS k, t
         | ORDER BY tag_name, tag_value""".stripMargin.replace("\n", " "),
    "ts_series_match_limit" ->
      s"""WITH u AS (SELECT DISTINCT name, user_id FROM (
         |  SELECT name, user_id FROM ($S) AS s1
         |   WHERE name = 'purchase'
         |    AND floor(epoch(ts)) >= 1704067200 AND floor(epoch(ts)) < 1706745600
         |  UNION ALL
         |  SELECT name, user_id FROM ($S) AS s2
         |   WHERE regexp_full_match(name, 'cl.*')
         |    AND regexp_full_match(CAST(user_id AS VARCHAR), '[0-9]*[02468]')
         |    AND floor(epoch(ts)) >= 1704067200 AND floor(epoch(ts)) < 1706745600
         |  ) AS z),
         | t AS (SELECT CAST(count(*) AS BIGINT) AS total_results FROM u)
         | SELECT k.name, k.user_id, t.total_results,
         |  CAST(t.total_results > 10 AS INT) AS limited
         | FROM (SELECT * FROM u ORDER BY name, user_id LIMIT 10) AS k, t
         | ORDER BY name, user_id""".stripMargin.replace("\n", " "),
    "ts_index_tags_limit" ->
      s"""WITH m AS (SELECT DISTINCT name, CAST(user_id AS VARCHAR) AS user_id
         |  FROM ($S) AS s WHERE regexp_full_match(name, '(pur|si).*')),
         | u AS (SELECT DISTINCT tag_name, tag_value FROM (
         |  SELECT 'name' AS tag_name, name AS tag_value FROM m
         |  UNION ALL
         |  SELECT 'user_id' AS tag_name, user_id AS tag_value FROM m) AS z
         |  WHERE tag_value IS NOT NULL),
         | t AS (SELECT CAST(count(*) AS BIGINT) AS total_results FROM u)
         | SELECT k.tag_name, k.tag_value, t.total_results,
         |  CAST(t.total_results > 6 AS INT) AS limited
         | FROM (SELECT * FROM u ORDER BY tag_name, tag_value LIMIT 6) AS k, t
         | ORDER BY tag_name, tag_value""".stripMargin.replace("\n", " "),
    "ts_postings" ->
      s"""WITH series AS (SELECT DISTINCT name,
         |  CAST(user_id AS VARCHAR) AS user_id FROM ($S) AS s)
         | SELECT label, value, n_series FROM (
         |  SELECT 'name' AS label, name AS value, count(*) AS n_series
         |   FROM series GROUP BY name
         |  UNION ALL
         |  SELECT 'user_id' AS label, user_id AS value, count(*) AS n_series
         |   FROM series GROUP BY user_id) AS p
         | ORDER BY label, value""".stripMargin.replace("\n", " "),
    // the index route must land on exactly the direct-scan series set
    "ts_index_route" ->
      s"""SELECT DISTINCT name, CAST(user_id AS VARCHAR) AS user_id
         | FROM ($S) AS s
         | WHERE regexp_full_match(name, '(pur|cli).*')
         |  AND CAST(user_id AS VARCHAR) <> '7'
         |  AND regexp_full_match(CAST(user_id AS VARCHAR), '[0-9]*[13579]')
         | ORDER BY name, user_id""".stripMargin.replace("\n", " "),
    "ts_series_match" ->
      s"""SELECT DISTINCT name, user_id FROM (
         | SELECT name, user_id FROM ($S) AS s1
         |  WHERE name = 'purchase'
         |   AND floor(epoch(ts)) >= 1704067200 AND floor(epoch(ts)) < 1706745600
         | UNION ALL
         | SELECT name, user_id FROM ($S) AS s2
         |  WHERE regexp_full_match(name, 'cl.*')
         |   AND regexp_full_match(CAST(user_id AS VARCHAR), '[0-9]*[02468]')
         |   AND floor(epoch(ts)) >= 1704067200 AND floor(epoch(ts)) < 1706745600
         | ) AS u ORDER BY name, user_id""".stripMargin.replace("\n", " "),
    "ts_agg_by" ->
      s"""SELECT name, bucket_s, round(sum(value), 6) AS sum_v, min(value) AS min_v,
         | max(value) AS max_v, round(avg(value), 6) AS avg_v, count(*) AS count_v
         | FROM ($INST) AS i GROUP BY name, bucket_s ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "ts_spread_by" ->
      s"""SELECT name, bucket_s, round(stddev_pop(value), 6) AS stddev_v,
         | round(var_pop(value), 6) AS var_v
         | FROM ($INST) AS i GROUP BY name, bucket_s ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "ts_quantile_by" ->
      s"""SELECT name, bucket_s, round(quantile_cont(value, 0.9), 6) AS quantile_v
         | FROM ($INST) AS i GROUP BY name, bucket_s ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "ts_topk" ->
      s"""SELECT name, user_id, bucket_s, value FROM (
         | SELECT *, row_number() OVER (PARTITION BY name, bucket_s
         |   ORDER BY value DESC, user_id ASC) AS rk FROM ($INST) AS i) AS t
         | WHERE rk <= 3 ORDER BY name, bucket_s, user_id""".stripMargin.replace("\n", " "),
    "ts_bottomk" ->
      s"""SELECT name, user_id, bucket_s, value FROM (
         | SELECT *, row_number() OVER (PARTITION BY name, bucket_s
         |   ORDER BY value ASC, user_id ASC) AS rk FROM ($INST) AS i) AS t
         | WHERE rk <= 3 ORDER BY name, bucket_s, user_id""".stripMargin.replace("\n", " "),
    "ts_count_values" ->
      s"""SELECT name, bucket_s, CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS value_str,
         | count(*) AS count_v FROM ($INST) AS i
         | GROUP BY name, bucket_s, value_str ORDER BY name, bucket_s, value_str""".stripMargin.replace("\n", " "),
    "ts_absent" ->
      s"""SELECT g.bucket_s, 1 AS absent_v
         | FROM (SELECT unnest(generate_series(1704067200, 1706572800, 86400)) AS bucket_s) AS g
         | WHERE g.bucket_s NOT IN (
         |   SELECT DISTINCT bucket_s FROM ($INST) AS i
         |   WHERE name = 'purchase' AND user_id = 7 AND value > 150)
         | ORDER BY g.bucket_s""".stripMargin.replace("\n", " "),
    "ts_over_time_aggs" ->
      s"""SELECT name, user_id, bucket_s, round(sum(value), 6) AS sum_v,
         | round(avg(value), 6) AS avg_v, min(value) AS min_v, max(value) AS max_v,
         | count(*) AS count_v FROM ($S) AS s
         | GROUP BY name, user_id, bucket_s ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_over_time_stddev" ->
      s"""SELECT name, user_id, bucket_s, round(stddev_pop(value), 6) AS stddev_v,
         | round(var_pop(value), 6) AS stdvar_v FROM ($S) AS s
         | GROUP BY name, user_id, bucket_s ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_last_over_time" ->
      s"SELECT name, user_id, bucket_s, value FROM ($INST) AS i ORDER BY name, user_id, bucket_s",
    "ts_quantile_over_time" ->
      s"""SELECT name, user_id, bucket_s, round(quantile_cont(value, 0.5), 6) AS quantile_v
         | FROM ($S) AS s GROUP BY name, user_id, bucket_s
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_rate" ->
      s"""SELECT name, user_id, bucket_s,
         | round(delta_r, 6) + 0.0 AS delta_v,
         | round(increase_r, 6) + 0.0 AS increase_v,
         | round(rate_r, 9) + 0.0 AS rate_v
         | FROM ${extrapSql(rateAggDay(""), "name, user_id, bucket_s", 86400)} AS t
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_irate" ->
      s"""SELECT name, user_id, bucket_s, round(value - prev_v, 6) AS idelta_v,
         | round(CASE WHEN floor(epoch(ts)) <> floor(epoch(prev_ts))
         |   THEN (value - prev_v) / (floor(epoch(ts)) - floor(epoch(prev_ts))) END, 9) AS irate_v
         | FROM (SELECT *,
         |   lag(value) OVER w AS prev_v, lag(ts) OVER w AS prev_ts,
         |   row_number() OVER (PARTITION BY name, user_id, bucket_s
         |     ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM ($S) AS s
         |  WINDOW w AS (PARTITION BY name, user_id, bucket_s ORDER BY ts, event_id)) AS t
         | WHERE rn = 1 AND prev_v IS NOT NULL
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_consolidate" ->
      s"""SELECT name, user_id, bucket_s, round(avg(value), 6) AS value
         | FROM ($S) AS s GROUP BY name, user_id, bucket_s
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_present_ot" ->
      s"""SELECT name, user_id, bucket_s, 1.0 AS present_v FROM ($S) AS s
         | GROUP BY name, user_id, bucket_s
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_asof" ->
      s"""SELECT s.name, s.user_id, g.bucket_s,
         | last(s.value ORDER BY s.ts, s.event_id) AS value
         | FROM ($S) AS s JOIN ($GRID) AS g
         |  ON floor(epoch(s.ts)) >= g.bucket_s - 86400
         |  AND floor(epoch(s.ts)) < g.bucket_s
         | GROUP BY s.name, s.user_id, g.bucket_s
         | ORDER BY s.name, s.user_id, g.bucket_s""".stripMargin.replace("\n", " "),
    "ts_avg_sliding" ->
      s"""SELECT s.name, s.user_id, g.bucket_s,
         | round(sum(s.value), 6) AS sum_v, round(avg(s.value), 6) AS avg_v,
         | min(s.value) AS min_v, max(s.value) AS max_v, count(*) AS count_v
         | FROM ($S) AS s JOIN ($GRID) AS g
         |  ON floor(epoch(s.ts)) >= g.bucket_s - 86400
         |  AND floor(epoch(s.ts)) < g.bucket_s
         | GROUP BY s.name, s.user_id, g.bucket_s
         | ORDER BY s.name, s.user_id, g.bucket_s""".stripMargin.replace("\n", " "),
    "ts_rate_sliding" ->
      s"""SELECT name, user_id, bucket_s,
         | round(delta_r, 6) + 0.0 AS delta_v,
         | round(increase_r, 6) + 0.0 AS increase_v,
         | round(rate_r, 9) + 0.0 AS rate_v
         | FROM ${slidingRateRel("")} AS rv
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_rate_sliding_promql" ->
      s"""SELECT name, user_id, bucket_s,
         | round(delta_r, 6) + 0.0 AS delta_v,
         | round(increase_r, 6) + 0.0 AS increase_v,
         | round(rate_r, 9) + 0.0 AS rate_v
         | FROM ${slidingRateRel("", rightClosed = true)} AS rv
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_resets_changes" ->
      s"""SELECT name, user_id, bucket_s,
         | CAST(sum(CASE WHEN prev_v > value THEN 1 ELSE 0 END) AS BIGINT) AS resets_v,
         | CAST(sum(CASE WHEN prev_v <> value THEN 1 ELSE 0 END) AS BIGINT) AS changes_v
         | FROM (SELECT *, lag(value) OVER (PARTITION BY name, user_id, bucket_s
         |       ORDER BY ts, event_id) AS prev_v FROM ($S) AS s) AS p
         | GROUP BY name, user_id, bucket_s ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_linreg" ->
      s"""SELECT name, user_id, bucket_s, round(slope, 9) AS deriv_v,
         | round(avg_v + slope * (90000.0 - avg_t), 6) AS predict_v
         | FROM (
         |  SELECT name, user_id, bucket_s,
         |   CASE WHEN var_pop(t) > 0 THEN covar_pop(t, value) / var_pop(t) END AS slope,
         |   avg(t) AS avg_t, avg(value) AS avg_v
         |  FROM (SELECT name, user_id, bucket_s, value,
         |        CAST(floor(epoch(ts)) - bucket_s AS DOUBLE) AS t FROM ($S) AS s) AS c
         |  GROUP BY name, user_id, bucket_s) AS g
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // holt_winters: the double-exponential recurrence replayed as a
    // recursive CTE. Smoothing factors appear as (1 - sf)/(1 - tf)
    // expressions, not folded literals, so both engines round the
    // constant subtraction identically (it is an IEEE tie case).
    "ts_holt_winters" ->
      s"""WITH RECURSIVE
         | o AS (SELECT name, user_id, bucket_s, value,
         |   row_number() OVER (PARTITION BY name, user_id, bucket_s
         |     ORDER BY ts, event_id) AS rn,
         |   count(*) OVER (PARTITION BY name, user_id, bucket_s) AS cnt
         |  FROM ($S) AS s),
         | r AS (
         |  SELECT o2.name, o2.user_id, o2.bucket_s, 2 AS rn, o2.cnt,
         |   o2.value AS sm, o2.value - o1.value AS tr
         |  FROM o AS o2 JOIN o AS o1
         |   ON o1.name = o2.name AND o1.user_id = o2.user_id
         |   AND o1.bucket_s = o2.bucket_s AND o1.rn = 1
         |  WHERE o2.rn = 2
         |  UNION ALL
         |  SELECT r.name, r.user_id, r.bucket_s, r.rn + 1, r.cnt,
         |   0.3 * o.value + (1 - 0.3) * (r.sm + r.tr) AS sm,
         |   0.1 * ((0.3 * o.value + (1 - 0.3) * (r.sm + r.tr)) - r.sm)
         |     + (1 - 0.1) * r.tr AS tr
         |  FROM r JOIN o ON o.name = r.name AND o.user_id = r.user_id
         |   AND o.bucket_s = r.bucket_s AND o.rn = r.rn + 1)
         | SELECT name, user_id, bucket_s, round(sm, 6) AS hw_v
         | FROM r WHERE rn = cnt
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // rolling z-score anomaly flags: the flag compares the ROUNDED
    // |z| so windowed-stddev ulp drift can't flip a boundary point
    "ts_anomaly" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | st AS (SELECT name, user_id, bucket_s, v,
         |  count(*) OVER wpre AS n_prev, avg(v) OVER wpre AS mean_raw,
         |  stddev_pop(v) OVER wpre AS std_raw
         |  FROM c WINDOW wpre AS (PARTITION BY name, user_id
         |   ORDER BY bucket_s ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         | SELECT name, user_id, bucket_s, round(v, 6) AS v, n_prev,
         |  round(mean_raw, 6) AS mean_v,
         |  round(CASE WHEN n_prev >= 6 AND std_raw > 0
         |   THEN (v - mean_raw) / std_raw END, 6) AS z_v,
         |  coalesce(CAST(round(abs(CASE WHEN n_prev >= 6 AND std_raw > 0
         |   THEN (v - mean_raw) / std_raw END), 6) > 3.0 AS INT), 0)
         |   AS anomaly
         | FROM st ORDER BY name, user_id, bucket_s"""
        .stripMargin.replace("\n", " "),
    "ts_seasonal" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | h AS (SELECT *, (bucket_s % 86400) // 3600 AS hod FROM c),
         | p AS (SELECT name, user_id, hod, avg(v) AS prof_raw,
         |  stddev_pop(v) AS std_raw, count(*) AS n_hod
         |  FROM h GROUP BY 1, 2, 3)
         | SELECT h.name, h.user_id, h.bucket_s, h.hod, round(h.v, 6) AS v,
         |  p.n_hod, round(p.prof_raw, 6) AS prof_v,
         |  round(h.v - p.prof_raw, 6) AS resid_v,
         |  round(CASE WHEN p.n_hod >= 4 AND p.std_raw > 0
         |   THEN (h.v - p.prof_raw) / p.std_raw END, 6) AS z_v,
         |  coalesce(CAST(round(abs(CASE WHEN p.n_hod >= 4 AND p.std_raw > 0
         |   THEN (h.v - p.prof_raw) / p.std_raw END), 6) > 3.0 AS INT), 0)
         |   AS seasonal_anomaly
         | FROM h JOIN p ON p.name = h.name AND p.user_id = h.user_id
         |  AND p.hod = h.hod
         | ORDER BY h.name, h.user_id, h.bucket_s"""
        .stripMargin.replace("\n", " "),
    "ts_stl" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | h AS (SELECT *, (bucket_s % 86400) // 3600 AS hod FROM c),
         | t AS (SELECT *, count(*) OVER wtr AS n_win,
         |   avg(v) OVER wtr AS tr FROM h
         |  WINDOW wtr AS (PARTITION BY name, user_id ORDER BY bucket_s
         |   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         | t2 AS (SELECT name, user_id, bucket_s, hod, v,
         |   CASE WHEN n_win = 25 THEN tr END AS trend_raw FROM t),
         | sdet AS (SELECT name, user_id, hod,
         |   avg(v - trend_raw) AS seas_raw FROM t2
         |  WHERE trend_raw IS NOT NULL GROUP BY 1, 2, 3)
         | SELECT t2.name, t2.user_id, t2.bucket_s, t2.hod,
         |  round(t2.v, 6) AS v, round(t2.trend_raw, 6) AS trend_v,
         |  round(sdet.seas_raw, 6) AS seasonal_v,
         |  round(t2.v - t2.trend_raw - sdet.seas_raw, 6) AS resid_v
         | FROM t2 LEFT JOIN sdet ON sdet.name = t2.name
         |  AND sdet.user_id = t2.user_id AND sdet.hod = t2.hod
         | ORDER BY t2.name, t2.user_id, t2.bucket_s"""
        .stripMargin.replace("\n", " "),
    "ts_acf" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | st AS (SELECT name, user_id, avg(v) AS mu, var_pop(v) AS varp,
         |   count(*) AS n_b FROM c GROUP BY 1, 2),
         | ks AS (SELECT unnest(range(1, 9)) AS lag_k),
         | pr AS (SELECT l.name, l.user_id, ks.lag_k,
         |   (l.v - st.mu) * (r.v - st.mu) AS p, st.varp, st.n_b
         |  FROM c l CROSS JOIN ks
         |  JOIN c r ON r.name = l.name AND r.user_id = l.user_id
         |   AND r.bucket_s = l.bucket_s + ks.lag_k * 3600
         |  JOIN st ON st.name = l.name AND st.user_id = l.user_id
         |  WHERE st.varp > 0)
         | SELECT name, user_id, CAST(lag_k AS INT) AS lag_k,
         |  count(*) AS n_pairs,
         |  round(sum(p) / (max(varp) * max(n_b)), 6) AS acf_v
         | FROM pr GROUP BY 1, 2, 3
         | ORDER BY name, user_id, lag_k""".stripMargin.replace("\n", " "),
    "ts_xcorr" ->
      s"""WITH c AS (SELECT name,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  sum(value) AS v FROM ($S) AS s GROUP BY 1, 2),
         | ks AS (SELECT unnest(range(-6, 7)) AS lag_k),
         | pr AS (SELECT a.name AS name_a, b.name AS name_b, ks.lag_k,
         |   a.v AS x, b.v AS y
         |  FROM c a CROSS JOIN ks
         |  JOIN c b ON b.bucket_s = a.bucket_s + ks.lag_k * 3600
         |   AND a.name < b.name),
         | m AS (SELECT name_a, name_b, lag_k, count(*) AS n,
         |   sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
         |   sum(y*y) AS syy, sum(x*y) AS sxy
         |  FROM pr GROUP BY 1, 2, 3)
         | SELECT name_a, name_b, CAST(lag_k AS INT) AS lag_k, n,
         |  round(CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) > 0
         |   THEN (n*sxy - sx*sy) /
         |    sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) END, 6) AS r_v
         | FROM m ORDER BY name_a, name_b, lag_k"""
        .stripMargin.replace("\n", " "),
    "ts_mad" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | md AS (SELECT name, user_id, quantile_cont(v, 0.5) AS med
         |  FROM c GROUP BY 1, 2),
         | wm AS (SELECT c.*, md.med FROM c
         |  JOIN md ON md.name = c.name AND md.user_id = c.user_id),
         | ma AS (SELECT name, user_id,
         |   quantile_cont(abs(v - med), 0.5) AS mad
         |  FROM wm GROUP BY 1, 2),
         | z AS (SELECT wm.name, wm.user_id, wm.bucket_s,
         |   round(wm.v, 6) AS v6, round(wm.med, 6) AS med6,
         |   round(ma.mad, 6) AS mad6, CASE WHEN round(ma.mad, 6) > 0
         |    THEN 0.6745 * (round(wm.v, 6) - round(wm.med, 6))
         |      / round(ma.mad, 6) END AS zr
         |  FROM wm JOIN ma ON ma.name = wm.name AND ma.user_id = wm.user_id)
         | SELECT name, user_id, bucket_s, v6 AS v,
         |  med6 AS med_v, mad6 AS mad_v,
         |  floor(zr * 1000000) / 1000000 AS z_v,
         |  coalesce(CAST(floor(abs(zr) * 1000000) / 1000000 > 3.5 AS INT),
         |   0) AS outlier
         | FROM z ORDER BY name, user_id, bucket_s"""
        .stripMargin.replace("\n", " "),
    "ts_interpolate" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | sp AS (SELECT name, user_id, min(bucket_s) AS b0,
         |   max(bucket_s) AS b1 FROM c GROUP BY 1, 2),
         | grid AS (SELECT sp.name, sp.user_id,
         |   CAST(g.b AS BIGINT) AS bucket_s
         |  FROM sp, unnest(range(sp.b0, sp.b1 + 3600, 3600)) AS g(b)),
         | j AS (SELECT grid.name, grid.user_id, grid.bucket_s, c.v
         |  FROM grid LEFT JOIN c ON c.name = grid.name
         |   AND c.user_id = grid.user_id AND c.bucket_s = grid.bucket_s),
         | w AS (SELECT *,
         |   last_value(v IGNORE NULLS) OVER wp AS pv,
         |   last_value(CASE WHEN v IS NOT NULL THEN bucket_s END
         |    IGNORE NULLS) OVER wp AS pb,
         |   first_value(v IGNORE NULLS) OVER wn AS nv,
         |   first_value(CASE WHEN v IS NOT NULL THEN bucket_s END
         |    IGNORE NULLS) OVER wn AS nb
         |  FROM j WINDOW wp AS (PARTITION BY name, user_id
         |   ORDER BY bucket_s
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |  wn AS (PARTITION BY name, user_id ORDER BY bucket_s
         |   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
         | f AS (SELECT *, CASE WHEN v IS NOT NULL THEN v
         |   WHEN pv IS NOT NULL AND nv IS NOT NULL
         |    AND (nb - pb) / 3600 - 1 <= 6
         |   THEN pv + (nv - pv) * ((bucket_s - pb)::DOUBLE / (nb - pb))
         |   END AS vf FROM w)
         | SELECT name, user_id, bucket_s,
         |  floor(v * 1000000) / 1000000 AS v,
         |  floor(vf * 1000000) / 1000000 AS v_filled,
         |  CAST(v IS NULL AND vf IS NOT NULL AS INT) AS filled,
         |  CAST('0x' || substr(md5(name || '|' || CAST(user_id AS VARCHAR)),
         |   1, 8) AS BIGINT) % 32 AS shard
         | FROM f ORDER BY $interpFileOrder, shard, name, user_id, bucket_s"""
        .stripMargin.replace("\n", " "),
    "ds_rollup_loss" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | rs AS (SELECT unnest([14400, 86400]) AS res_s),
         | pb AS (SELECT c.name, c.user_id, rs.res_s,
         |   c.bucket_s - c.bucket_s % rs.res_s AS cb,
         |   count(*) AS n, sum(v) AS sv, sum(v * v) AS s2,
         |   max(v) - min(v) AS spread
         |  FROM c CROSS JOIN rs GROUP BY 1, 2, 3, 4),
         | pd AS (SELECT *, sqrt(greatest(0.0,
         |   s2 / n - (sv / n) * (sv / n))) AS rms_dev FROM pb)
         | SELECT name, CAST(res_s AS BIGINT) AS res_s,
         |  count(*) AS n_buckets,
         |  round(avg(spread), 6) AS avg_spread,
         |  round(max(spread), 6) AS max_spread,
         |  round(avg(rms_dev), 6) AS avg_rms_dev
         | FROM pd GROUP BY 1, 2 ORDER BY name, res_s"""
        .stripMargin.replace("\n", " "),
    "ts_alert_for" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | p AS (SELECT name, user_id, bucket_s, round(v, 6) AS v,
         |  CAST(round(v, 6) > 50.0 AS INT) AS pending FROM c),
         | r AS (SELECT *, sum(pending) OVER wf AS run,
         |   bucket_s - lag(bucket_s, 2) OVER wo AS span FROM p
         |  WINDOW wf AS (PARTITION BY name, user_id ORDER BY bucket_s
         |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         |  wo AS (PARTITION BY name, user_id ORDER BY bucket_s))
         | SELECT name, user_id, bucket_s, v, pending,
         |  coalesce(CAST(run = 3 AND span = 7200 AS INT), 0) AS firing
         | FROM r ORDER BY name, user_id, bucket_s"""
        .stripMargin.replace("\n", " "),
    "ts_type_infer" ->
      s"""WITH d AS (SELECT name, user_id,
         |  value - lag(value) OVER (PARTITION BY name, user_id
         |   ORDER BY ts, event_id) AS dv FROM ($S) AS s),
         | nn AS (SELECT * FROM d WHERE dv IS NOT NULL),
         | a AS (SELECT name, count(DISTINCT user_id) AS n_series,
         |   count(*) AS n_deltas,
         |   CAST(sum(CASE WHEN dv >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS nonneg_deltas,
         |   CAST(sum(CASE WHEN dv < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS resets FROM nn GROUP BY 1)
         | SELECT name, n_series, n_deltas, nonneg_deltas, resets,
         |  round(nonneg_deltas / n_deltas::DOUBLE, 6) AS nonneg_frac,
         |  CASE WHEN round(nonneg_deltas / n_deltas::DOUBLE, 6) >= 0.95
         |   THEN 'counter' ELSE 'gauge' END AS inferred_type
         | FROM a ORDER BY name""".stripMargin.replace("\n", " "),
    "ts_strength" ->
      s"""WITH c AS (SELECT name,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  sum(value) AS v FROM ($S) AS s GROUP BY 1, 2),
         | h AS (SELECT *, (bucket_s % 86400) // 3600 AS hod FROM c),
         | t AS (SELECT *, count(*) OVER wtr AS n_win,
         |   avg(v) OVER wtr AS tr FROM h
         |  WINDOW wtr AS (PARTITION BY name ORDER BY bucket_s
         |   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         | t2 AS (SELECT name, bucket_s, hod, v,
         |   CASE WHEN n_win = 25 THEN tr END AS trend_raw FROM t),
         | sdet AS (SELECT name, hod,
         |   avg(v - trend_raw) AS seas_raw FROM t2
         |  WHERE trend_raw IS NOT NULL GROUP BY 1, 2),
         | j AS (SELECT t2.name, t2.v, t2.trend_raw,
         |   sdet.seas_raw FROM t2 JOIN sdet ON sdet.name = t2.name
         |   AND sdet.hod = t2.hod
         |  WHERE t2.trend_raw IS NOT NULL),
         | a AS (SELECT name, count(*) AS n_b,
         |   var_pop(v - trend_raw - seas_raw) AS vr,
         |   var_pop(v - seas_raw) AS vds,
         |   var_pop(v - trend_raw) AS vdt FROM j GROUP BY 1)
         | SELECT name, n_b,
         |  round(CASE WHEN vds > 0
         |   THEN greatest(0, 1 - vr / vds) END, 6) AS trend_strength,
         |  round(CASE WHEN vdt > 0
         |   THEN greatest(0, 1 - vr / vdt) END, 6) AS seasonal_strength
         | FROM a ORDER BY name""".stripMargin.replace("\n", " "),
    "ts_theil_sen" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | dd AS (SELECT *, bucket_s // 86400 AS d FROM c),
         | pr AS (SELECT l.name, l.user_id,
         |   (r.v - l.v) / CAST(r.d - l.d AS DOUBLE) AS q
         |  FROM dd l JOIN dd r ON r.name = l.name
         |   AND r.user_id = l.user_id AND r.d > l.d),
         | sl AS (SELECT name, user_id, count(*) AS n_pairs,
         |   quantile_cont(q, 0.5) AS slope FROM pr GROUP BY 1, 2),
         | ic AS (SELECT dd.name, dd.user_id, count(*) AS n_days,
         |   max(sl.n_pairs) AS n_pairs, max(sl.slope) AS slope,
         |   quantile_cont(dd.v - sl.slope * dd.d, 0.5) AS icept
         |  FROM dd JOIN sl ON sl.name = dd.name
         |   AND sl.user_id = dd.user_id GROUP BY 1, 2)
         | SELECT name, user_id, n_days, n_pairs,
         |  floor(slope * 1000000) / 1000000 AS slope_d,
         |  floor(icept * 1000000) / 1000000 AS icept_v
         | FROM ic ORDER BY name, user_id""".stripMargin.replace("\n", " "),
    "ts_forecast_eval" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | j AS (SELECT c.name, c.user_id, c.v,
         |   l1.v AS v1, l2.v AS v2, l24.v AS v24 FROM c
         |  LEFT JOIN c l1 ON l1.name = c.name AND l1.user_id = c.user_id
         |   AND l1.bucket_s = c.bucket_s - 3600
         |  LEFT JOIN c l2 ON l2.name = c.name AND l2.user_id = c.user_id
         |   AND l2.bucket_s = c.bucket_s - 7200
         |  LEFT JOIN c l24 ON l24.name = c.name AND l24.user_id = c.user_id
         |   AND l24.bucket_s = c.bucket_s - 86400),
         | p AS (SELECT name, user_id, 'naive' AS method, v, v1 AS pred
         |   FROM j WHERE v1 IS NOT NULL
         |  UNION ALL SELECT name, user_id, 'snaive24', v, v24
         |   FROM j WHERE v24 IS NOT NULL
         |  UNION ALL SELECT name, user_id, 'drift', v, v1 + (v1 - v2)
         |   FROM j WHERE v1 IS NOT NULL AND v2 IS NOT NULL)
         | SELECT name, user_id, method, count(*) AS n,
         |  round(avg(abs(v - pred)), 6) AS mae,
         |  round(sqrt(avg((v - pred) * (v - pred))), 6) AS rmse
         | FROM p GROUP BY 1, 2, 3
         | ORDER BY name, user_id, method""".stripMargin.replace("\n", " "),
    "ts_coverage" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s
         | FROM ($S) AS s GROUP BY 1, 2, 3),
         | g AS (SELECT name, user_id, bucket_s,
         |   (bucket_s - lag(bucket_s) OVER wseq) / 3600 - 1 AS gap
         |  FROM c WINDOW wseq AS (PARTITION BY name, user_id
         |   ORDER BY bucket_s))
         | SELECT name, user_id, count(*) AS present_buckets,
         |  min(bucket_s) AS first_s, max(bucket_s) AS last_s,
         |  CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_hours,
         |  CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_gaps,
         |  CAST((max(bucket_s) - min(bucket_s)) / 3600 + 1 AS BIGINT)
         |   AS span_buckets,
         |  round(count(*) / CAST((max(bucket_s) - min(bucket_s)) / 3600 + 1
         |    AS BIGINT)::DOUBLE, 6) AS coverage
         | FROM g GROUP BY name, user_id
         | ORDER BY name, user_id""".stripMargin.replace("\n", " "),
    "ts_profile_outliers" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | pf AS (SELECT name, user_id, (bucket_s % 86400) // 3600 AS hod,
         |   avg(v) AS ph FROM c GROUP BY 1, 2, 3),
         | sm AS (SELECT name, user_id, avg(v) AS sm FROM c GROUP BY 1, 2),
         | sh AS (SELECT pf.name, pf.user_id, pf.hod,
         |   pf.ph / sm.sm AS shape
         |  FROM pf JOIN sm ON sm.name = pf.name AND sm.user_id = pf.user_id
         |  WHERE sm.sm <> 0),
         | g AS (SELECT hod, round(avg(shape), 6) AS g FROM sh GROUP BY hod),
         | d AS (SELECT sh.name, sh.user_id, count(*) AS n_hods,
         |   round(sum((sh.shape - g.g) * (sh.shape - g.g)), 6) AS dist
         |  FROM sh JOIN g ON g.hod = sh.hod GROUP BY 1, 2)
         | SELECT name, user_id, n_hods, dist, rk FROM (
         |  SELECT name, user_id, n_hods, dist, row_number() OVER (
         |    ORDER BY dist DESC, name ASC, user_id ASC) AS rk FROM d) AS z
         | WHERE rk <= 10 ORDER BY rk""".stripMargin.replace("\n", " "),
    "ts_heatmap" ->
      """WITH h AS (SELECT event_type AS name,
        |  CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s,
        |  CAST(floor(round(log2(value), 9)) AS BIGINT) AS vb
        | FROM events WHERE value > 0)
        | SELECT name, bucket_s, vb, count(*) AS n, pow(2.0, vb) AS v_lo
        | FROM h GROUP BY 1, 2, 3
        | ORDER BY name, bucket_s, vb""".stripMargin.replace("\n", " "),
    "ts_burn_rate" ->
      """WITH d AS (SELECT event_type AS name,
        |  CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS bad
        | FROM events GROUP BY 1, 2),
        | wdw AS (SELECT name, bucket_s, n, bad,
        |   sum(n) OVER wtr AS n_long, sum(bad) OVER wtr AS bad_long
        |  FROM d WINDOW wtr AS (PARTITION BY name ORDER BY bucket_s
        |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        | SELECT name, bucket_s, n, bad,
        |  round(bad / n::DOUBLE / 0.1, 6) AS short_burn,
        |  round(bad_long / n_long::DOUBLE / 0.1, 6) AS long_burn,
        |  CAST(round(bad / n::DOUBLE / 0.1, 6) > 1.0
        |   AND round(bad_long / n_long::DOUBLE / 0.1, 6) > 1.0 AS INT)
        |   AS alert
        | FROM wdw ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    // the sequential CUSUM recursion replayed as the same prefix-sum
    // identity: S = P - min(0, running-min P)
    "ts_cusum" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | st AS (SELECT name, user_id, avg(v) AS mu,
         |   stddev_pop(v) AS sigma FROM c GROUP BY 1, 2),
         | p AS (SELECT c.name, c.user_id, c.bucket_s, c.v, st.sigma,
         |   sum(c.v - st.mu - 0.5 * st.sigma) OVER wrun AS pp
         |  FROM c JOIN st ON st.name = c.name AND st.user_id = c.user_id
         |  WINDOW wrun AS (PARTITION BY c.name, c.user_id
         |   ORDER BY c.bucket_s ROWS UNBOUNDED PRECEDING)),
         | sx AS (SELECT name, user_id, bucket_s, v, sigma,
         |   pp - least(min(pp) OVER wrun2, 0.0) AS ss
         |  FROM p WINDOW wrun2 AS (PARTITION BY name, user_id
         |   ORDER BY bucket_s ROWS UNBOUNDED PRECEDING))
         | SELECT name, user_id, bucket_s, round(v, 6) AS v,
         |  round(ss, 6) AS cusum_v,
         |  CAST(round(ss, 6) > round(4.0 * sigma, 6) AS INT) AS alarm
         | FROM sx ORDER BY name, user_id, bucket_s"""
        .stripMargin.replace("\n", " "),
    "ts_sax" ->
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
         |  avg(value) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | st AS (SELECT name, user_id, avg(v) AS mu,
         |   stddev_pop(v) AS sigma FROM c GROUP BY 1, 2),
         | paa AS (SELECT c.name, c.user_id,
         |   CAST(c.bucket_s - c.bucket_s % 86400 AS BIGINT) AS day_s,
         |   count(*) AS n_hours,
         |   round(avg(CASE WHEN st.sigma > 0
         |     THEN (c.v - st.mu) / st.sigma ELSE 0.0 END), 6) AS paa_v
         |  FROM c JOIN st ON st.name = c.name AND st.user_id = c.user_id
         |  GROUP BY 1, 2, 3)
         | SELECT name, user_id, day_s, n_hours, paa_v,
         |  CAST(CASE WHEN paa_v < -0.6745 THEN 0 WHEN paa_v < 0.0 THEN 1
         |   WHEN paa_v < 0.6745 THEN 2 ELSE 3 END AS BIGINT) AS symbol,
         |  chr(97 + CASE WHEN paa_v < -0.6745 THEN 0 WHEN paa_v < 0.0 THEN 1
         |   WHEN paa_v < 0.6745 THEN 2 ELSE 3 END) AS sax_char
         | FROM paa ORDER BY name, user_id, day_s"""
        .stripMargin.replace("\n", " "),
    "ts_m4" ->
      s"""SELECT name, user_id, bucket_s, count(*) AS n,
         | round(first(value ORDER BY ts, event_id), 6) AS v_first,
         | round(min(value), 6) AS v_min, round(max(value), 6) AS v_max,
         | round(last(value ORDER BY ts, event_id), 6) AS v_last
         | FROM ($S) AS s GROUP BY name, user_id, bucket_s
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // SAX word blocking + fixed-order z-norm distance verify; same
    // freeze-then-derive discipline as ts_sax
    "ts_motifs" -> {
      val sym = (z: String) =>
        s"""CASE WHEN $z < -0.6745 THEN 'a' WHEN $z < 0.0 THEN 'b'
           | WHEN $z < 0.6745 THEN 'c' ELSE 'd' END""".stripMargin.replace("\n", " ")
      s"""WITH c AS (SELECT name, user_id,
         |  CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s,
         |  round(avg(value), 6) AS v FROM ($S) AS s GROUP BY 1, 2, 3),
         | ld AS (SELECT name, user_id, bucket_s, v AS v0,
         |   lead(v, 1) OVER wo AS v1, lead(v, 2) OVER wo AS v2,
         |   lead(v, 3) OVER wo AS v3,
         |   lead(bucket_s, 1) OVER wo AS b1, lead(bucket_s, 2) OVER wo AS b2,
         |   lead(bucket_s, 3) OVER wo AS b3
         |  FROM c WINDOW wo AS (PARTITION BY name, user_id ORDER BY bucket_s)),
         | sub0 AS (SELECT *, (((v0 + v1) + v2) + v3) / 4 AS mu FROM ld
         |  WHERE b1 = bucket_s + 86400 AND b2 = bucket_s + 172800
         |   AND b3 = bucket_s + 259200 AND v0 IS NOT NULL
         |   AND v1 IS NOT NULL AND v2 IS NOT NULL AND v3 IS NOT NULL),
         | sub1 AS (SELECT *, sqrt(((((v0 - mu) * (v0 - mu)
         |    + (v1 - mu) * (v1 - mu)) + (v2 - mu) * (v2 - mu))
         |    + (v3 - mu) * (v3 - mu)) / 4) AS sig FROM sub0),
         | subz AS (SELECT name, user_id, bucket_s AS start_s,
         |   round((v0 - mu) / sig, 6) AS z0, round((v1 - mu) / sig, 6) AS z1,
         |   round((v2 - mu) / sig, 6) AS z2, round((v3 - mu) / sig, 6) AS z3
         |  FROM sub1 WHERE sig > 0),
         | wd AS (SELECT *, ${sym("z0")} || ${sym("z1")} || ${sym("z2")}
         |   || ${sym("z3")} AS word FROM subz),
         | capped AS (SELECT * FROM (SELECT *,
         |   count(*) OVER (PARTITION BY name, word) AS bsz FROM wd) AS zz
         |  WHERE bsz <= 200),
         | pr AS (SELECT a.name, a.user_id AS a_user, a.start_s AS a_start,
         |   b.user_id AS b_user, b.start_s AS b_start, a.word,
         |   round(sqrt((((a.z0 - b.z0) * (a.z0 - b.z0)
         |     + (a.z1 - b.z1) * (a.z1 - b.z1))
         |     + (a.z2 - b.z2) * (a.z2 - b.z2))
         |     + (a.z3 - b.z3) * (a.z3 - b.z3)), 6) AS dist
         |  FROM capped a JOIN capped b ON b.name = a.name
         |   AND b.word = a.word AND (a.user_id < b.user_id
         |    OR (a.user_id = b.user_id
         |        AND a.start_s + 345600 <= b.start_s))),
         | top AS (SELECT * FROM pr ORDER BY dist, name, a_user, a_start,
         |   b_user, b_start LIMIT 10)
         | SELECT name, a_user, a_start, b_user, b_start, word, dist,
         |  row_number() OVER (ORDER BY dist, name, a_user, a_start,
         |   b_user, b_start) AS rk
         | FROM top ORDER BY rk""".stripMargin.replace("\n", " ")
    },
    // m3tsz int-mode value encoder replayed step-by-step: a recursive
    // CTE carries the encoder state (maxmult, sig tracker, intval)
    // across each block's points, mirroring Temporal.tszValueCost's
    // aggregate() fold bit-for-bit
    "ts_tsz_value_cost" -> tszValueCostOracle(S),
    // the same recursive encoder replay over the float-salted
    // samples: every 7th event carries +π and exercises the
    // int→float→int transitions and the worst-case XOR accounting
    "ts_tsz_value_cost_float" -> tszValueCostOracle(SALTED),
    // the m3tsz seconds-unit scheme replayed: 1/9/12/16/36-bit costs
    // by dod bucket, 64-bit first stamp, second dod against Δ₀=0
    "ts_tsz_cost" ->
      s"""WITH o AS (SELECT name, user_id, ts, event_id,
         |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM ($S) AS s),
         | d AS (SELECT name, user_id, ts, event_id,
         |   ts_s - lag(ts_s) OVER wseq AS dd FROM o
         |  WINDOW wseq AS (PARTITION BY name, user_id
         |   ORDER BY ts, event_id)),
         | d2 AS (SELECT name, user_id, dd,
         |   dd - coalesce(lag(dd) OVER wseq2, 0) AS dod FROM d
         |  WINDOW wseq2 AS (PARTITION BY name, user_id
         |   ORDER BY ts, event_id)),
         | b AS (SELECT name, user_id,
         |   CASE WHEN dd IS NULL THEN 64 WHEN dod = 0 THEN 1
         |    WHEN dod BETWEEN -64 AND 63 THEN 9
         |    WHEN dod BETWEEN -256 AND 255 THEN 12
         |    WHEN dod BETWEEN -2048 AND 2047 THEN 16
         |    ELSE 36 END AS bits FROM d2)
         | SELECT name, user_id, count(*) AS n_samples,
         |  CAST(sum(CASE WHEN bits = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_zero,
         |  CAST(sum(CASE WHEN bits = 9 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_b7,
         |  CAST(sum(CASE WHEN bits = 12 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_b9,
         |  CAST(sum(CASE WHEN bits = 16 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_b12,
         |  CAST(sum(CASE WHEN bits = 36 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_default,
         |  CAST(sum(bits) AS BIGINT) AS total_bits,
         |  round(sum(bits)::DOUBLE / count(*), 6) AS bits_per_sample,
         |  round(64.0 * count(*) / sum(bits), 6) AS vs_raw64
         | FROM b GROUP BY name, user_id
         | ORDER BY name, user_id""".stripMargin.replace("\n", " "),
    "ts_timestamp" ->
      s"""SELECT name, user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS value
         | FROM ($S) AS s ORDER BY event_id""".stripMargin.replace("\n", " "),
    "ts_math" ->
      s"""SELECT name, user_id, bucket_s, round(-value, 6) AS neg_v,
         | CAST(sign(value) AS DOUBLE) AS sgn_v,
         | round(abs(value), 6) AS abs_v,
         | CAST(ceil(value) AS DOUBLE) AS ceil_v, CAST(floor(value) AS DOUBLE) AS floor_v,
         | round(exp(value / 100.0), 6) AS exp_v, round(sqrt(abs(value)), 6) AS sqrt_v,
         | round(CASE WHEN value > 0 THEN ln(value) END, 6) AS ln_v,
         | round(CASE WHEN value > 0 THEN log2(value) END, 6) AS log2_v,
         | round(CASE WHEN value > 0 THEN log10(value) END, 6) AS log10_v
         | FROM ($INST) AS i ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_clamp" ->
      s"""SELECT name, user_id, bucket_s, round(greatest(value, 50.0), 6) AS clamp_min_v,
         | round(least(value, 150.0), 6) AS clamp_max_v
         | FROM ($INST) AS i ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_round" ->
      s"""SELECT name, user_id, bucket_s, round(round(value / 5.0) * 5.0, 6) AS round_v
         | FROM ($INST) AS i ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_datetime" ->
      s"""SELECT name, user_id, event_id,
         | dayofmonth(ts) AS day_of_month_v, dayofweek(ts) AS day_of_week_v,
         | dayofyear(ts) AS day_of_year_v,
         | dayofmonth(last_day(ts)) AS days_in_month_v, hour(ts) AS hour_v,
         | minute(ts) AS minute_v, month(ts) AS month_v, year(ts) AS year_v
         | FROM ($S) AS s ORDER BY event_id""".stripMargin.replace("\n", " "),
    "ts_histogram_quantile" -> {
      val le = "CASE WHEN value <= 10 THEN 10.0 WHEN value <= 25 THEN 25.0 " +
        "WHEN value <= 50 THEN 50.0 WHEN value <= 100 THEN 100.0 " +
        "WHEN value <= 150 THEN 150.0 WHEN value <= 200 THEN 200.0 " +
        "WHEN value <= 300 THEN 300.0 WHEN value <= 600 THEN 600.0 " +
        "ELSE CAST('infinity' AS DOUBLE) END"
      s"""SELECT name, bucket_s,
         | round(CASE WHEN isinf(le) THEN lo
         |   ELSE lo + (le - lo) * (q_rank - cum_prev) / (cum - cum_prev) END, 6) AS hq_v
         | FROM (
         |  SELECT *, 0.9 * total AS q_rank FROM (
         |   SELECT name, bucket_s, le, c,
         |    sum(c) OVER (PARTITION BY name, bucket_s ORDER BY le) AS cum,
         |    coalesce(sum(c) OVER (PARTITION BY name, bucket_s ORDER BY le
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev,
         |    coalesce(lag(le) OVER (PARTITION BY name, bucket_s ORDER BY le), 0.0) AS lo,
         |    sum(c) OVER (PARTITION BY name, bucket_s) AS total
         |   FROM (SELECT name, bucket_s, $le AS le, count(*) AS c FROM ($S) AS s
         |         GROUP BY name, bucket_s, le) AS cnt) AS cm) AS r
         | WHERE cum >= q_rank AND cum_prev < q_rank
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " ")
    },
    "ts_histogram_le" ->
      s"""WITH le AS (
         |  SELECT name, bucket_s, le, CAST(count(*) AS DOUBLE) AS cum
         |  FROM (SELECT name, bucket_s, value,
         |   unnest([10.0, 25.0, 50.0, 100.0, 150.0, 200.0, 300.0, 600.0,
         |           CAST('infinity' AS DOUBLE)]) AS le
         |   FROM ($S) AS s) AS t
         |  WHERE value <= le GROUP BY name, bucket_s, le),
         | w AS (SELECT name, bucket_s, le, cum,
         |  coalesce(lag(cum) OVER win, 0.0) AS cum_prev,
         |  coalesce(lag(le) OVER win, 0.0) AS lo,
         |  max(cum) OVER (PARTITION BY name, bucket_s) AS total
         |  FROM le WINDOW win AS (PARTITION BY name, bucket_s ORDER BY le))
         | SELECT name, bucket_s,
         |  round(CASE WHEN isinf(le) THEN lo
         |   ELSE lo + (le - lo) * (q_rank - cum_prev) / (cum - cum_prev) END, 6) AS hq_v
         | FROM (SELECT *, 0.9 * total AS q_rank FROM w) AS r
         | WHERE cum >= q_rank AND cum_prev < q_rank
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "ts_sort" ->
      s"""SELECT name, user_id, bucket_s, value,
         | row_number() OVER (PARTITION BY bucket_s
         |   ORDER BY value DESC, name ASC, user_id ASC) AS sort_rank
         | FROM ($INST) AS i ORDER BY bucket_s, sort_rank""".stripMargin.replace("\n", " "),
    "ts_binary_arith" ->
      s"""SELECT l.user_id, l.bucket_s, round(l.value + r.value, 6) AS add_v,
         | round(l.value - r.value, 6) AS sub_v, round(l.value * r.value, 6) AS mul_v,
         | round(CASE WHEN r.value <> 0 THEN l.value / r.value END, 6) AS div_v,
         | round(CASE WHEN r.value <> 0 THEN fmod(l.value, r.value) END, 6) AS mod_v,
         | round(pow(l.value, r.value / 100.0), 6) AS pow_v
         | FROM ($INST) AS l JOIN ($INST) AS r
         |  ON l.user_id = r.user_id AND l.bucket_s = r.bucket_s
         | WHERE l.name = 'purchase' AND r.name = 'click'
         | ORDER BY l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "ts_binary_cmp" ->
      s"""SELECT l.user_id, l.bucket_s,
         | CAST(l.value > r.value AS INT) AS gt_v, CAST(l.value >= r.value AS INT) AS ge_v,
         | CAST(l.value < r.value AS INT) AS lt_v, CAST(l.value <= r.value AS INT) AS le_v,
         | CAST(l.value = r.value AS INT) AS eq_v, CAST(l.value <> r.value AS INT) AS ne_v
         | FROM ($INST) AS l JOIN ($INST) AS r
         |  ON l.user_id = r.user_id AND l.bucket_s = r.bucket_s
         | WHERE l.name = 'purchase' AND r.name = 'click'
         | ORDER BY l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "ts_binary_and" ->
      s"""SELECT l.user_id, l.bucket_s, l.value FROM ($INST) AS l
         | WHERE l.name = 'purchase' AND EXISTS (
         |  SELECT 1 FROM ($INST) AS r WHERE r.name = 'click' AND r.value > 120
         |   AND r.user_id = l.user_id AND r.bucket_s = l.bucket_s)
         | ORDER BY l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "ts_binary_or" ->
      s"""SELECT user_id, bucket_s, value FROM (
         | SELECT l.user_id, l.bucket_s, l.value FROM ($INST) AS l WHERE l.name = 'purchase'
         | UNION ALL
         | SELECT r.user_id, r.bucket_s, r.value FROM ($INST) AS r
         |  WHERE r.name = 'click' AND NOT EXISTS (
         |   SELECT 1 FROM ($INST) AS l2 WHERE l2.name = 'purchase'
         |    AND l2.user_id = r.user_id AND l2.bucket_s = r.bucket_s)) AS u
         | ORDER BY user_id, bucket_s, value""".stripMargin.replace("\n", " "),
    "ts_binary_unless" ->
      s"""SELECT l.user_id, l.bucket_s, l.value FROM ($INST) AS l
         | WHERE l.name = 'purchase' AND NOT EXISTS (
         |  SELECT 1 FROM ($INST) AS r WHERE r.name = 'click' AND r.value > 120
         |   AND r.user_id = l.user_id AND r.bucket_s = l.bucket_s)
         | ORDER BY l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "pql_selector" ->
      s"""SELECT name, user_id, bucket_s, value FROM ($INST) AS i
         | WHERE name = 'purchase' AND user_id <> 7
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_rate_sum" ->
      s"""SELECT name, bucket_s, round(sum(rate_v), 9) AS value FROM (
         | SELECT name, user_id, bucket_s, round(rate_r, 9) AS rate_v
         | FROM ${extrapSql(
            rateAggDay("WHERE regexp_full_match(name, '(pur|cli).*')"),
            "name, user_id, bucket_s", 86400)} AS t) AS r
         | GROUP BY name, bucket_s ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    // the (start, end, step) grid joined on exact right-closed µs
    // bounds; per-(series, instant) extrapolated rate (the shared
    // extrapSql), then the by-name sum — the engine's rangeQuery
    // evaluates the identical windows via integer-µs index expansion
    "pql_range" ->
      s"""SELECT name, bucket_s, round(sum(rate_v), 9) AS value
         | FROM ${rangeRateRel("WHERE regexp_full_match(name, '(pur|cli).*')",
              1704240000L, 1706313600L, 10800L, 21600L)} AS r
         | GROUP BY name, bucket_s
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    // range-mode subquery: the inner summed rate on its epoch-aligned
    // 6h step grid (the SAME rv/sm stages as pql_subquery_agg), each
    // outer grid instant aggregating the steps in its right-closed
    // trailing-3d window
    "pql_range_subquery" ->
      s"""WITH rv AS (SELECT name, user_id, bucket_s,
         |  round(rate_r, 9) + 0.0 AS value
         | FROM ${slidingRateRel(
            "WHERE regexp_full_match(name, '(pur|cli).*')")} AS r),
         | sm AS (SELECT name, bucket_s, sum(value) AS value
         |  FROM rv GROUP BY name, bucket_s),
         | grid AS (SELECT unnest(generate_series(
         |   1704240000, 1706313600, 10800)) AS bucket_s)
         | SELECT sm.name, g.bucket_s, round(max(sm.value), 9) AS value
         | FROM sm JOIN grid AS g
         |  ON sm.bucket_s > g.bucket_s - 259200
         |  AND sm.bucket_s <= g.bucket_s
         | GROUP BY sm.name, g.bucket_s
         | ORDER BY sm.name, g.bucket_s""".stripMargin.replace("\n", " "),
    // per-instant topk over the grid rate leaves, user_id tiebreak
    "pql_range_topk" ->
      s"""SELECT name, user_id, bucket_s, rate_v AS value FROM (
         | SELECT *, row_number() OVER (PARTITION BY name, bucket_s
         |   ORDER BY rate_v DESC, user_id ASC) AS rk
         | FROM ${rangeRateRel("WHERE regexp_full_match(name, '(pur|cli).*')",
              1704240000L, 1706313600L, 10800L, 21600L)} AS r) AS t
         | WHERE rk <= 2
         | ORDER BY name, bucket_s, user_id""".stripMargin.replace("\n", " "),
    // vector∘vector / on (user_id) over two grid rate leaves
    "pql_range_mix" ->
      s"""SELECT l.user_id, l.bucket_s,
         | round(CASE WHEN r.rate_v <> 0 THEN l.rate_v / r.rate_v END, 9) AS value
         | FROM ${rangeRateRel("WHERE name = 'purchase'",
              1704240000L, 1706313600L, 10800L, 86400L)} AS l
         | JOIN ${rangeRateRel("WHERE name = 'click'",
              1704240000L, 1706313600L, 10800L, 86400L)} AS r
         |  ON l.user_id = r.user_id AND l.bucket_s = r.bucket_s
         | ORDER BY l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    // the per-window replay of the dense request
    "pql_range_dense" ->
      s"""WITH grid AS (SELECT unnest(generate_series(
         |   1704240000, 1706313600, 3600)) AS bucket_s)
         | SELECT s.name, s.user_id, g.bucket_s,
         |  round(sum(s.value), 6) AS value
         | FROM (SELECT * FROM ($S) AS s0 WHERE name = 'purchase') AS s
         | JOIN grid AS g
         |  ON epoch_us(s.ts) > (g.bucket_s - 86400) * 1000000
         |  AND epoch_us(s.ts) <= g.bucket_s * 1000000
         | GROUP BY s.name, s.user_id, g.bucket_s
         | ORDER BY s.name, s.user_id, g.bucket_s""".stripMargin.replace("\n", " "),
    "pql_range_rate_dense" ->
      s"""SELECT name, user_id, bucket_s, rate_v AS value
         | FROM ${rangeRateRel("WHERE name = 'purchase'",
              1704240000L, 1706313600L, 3600L, 86400L)} AS r
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // consecutive pairs with both ends in the right-closed grid window
    "pql_range_resets" ->
      s"""WITH grid AS (SELECT unnest(generate_series(
         |   1704240000, 1706313600, 21600)) AS bucket_s),
         | sl AS (SELECT *, lag(value) OVER w AS prev_v,
         |   lag(ts) OVER w AS prev_ts
         |  FROM (SELECT * FROM ($S) AS s0 WHERE name = 'purchase') AS s
         |  WINDOW w AS (PARTITION BY name, user_id ORDER BY ts, event_id)),
         | j AS (SELECT sl.*, g.bucket_s AS e FROM sl JOIN grid AS g
         |   ON epoch_us(sl.ts) > (g.bucket_s - 86400) * 1000000
         |   AND epoch_us(sl.ts) <= g.bucket_s * 1000000)
         | SELECT name, user_id, e AS bucket_s,
         |  CAST(sum(CASE WHEN epoch_us(prev_ts) > (e - 86400) * 1000000
         |    AND prev_v > value THEN 1 ELSE 0 END) AS DOUBLE) AS value
         | FROM j GROUP BY name, user_id, e
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // the window's final two samples; dt second-truncated like the
    // batch irateFrame
    "pql_range_irate" ->
      s"""WITH grid AS (SELECT unnest(generate_series(
         |   1704240000, 1706313600, 21600)) AS bucket_s),
         | sl AS (SELECT *, lag(value) OVER w AS prev_v,
         |   lag(ts) OVER w AS prev_ts
         |  FROM (SELECT * FROM ($S) AS s0 WHERE name = 'purchase') AS s
         |  WINDOW w AS (PARTITION BY name, user_id ORDER BY ts, event_id)),
         | j AS (SELECT sl.*, g.bucket_s AS e FROM sl JOIN grid AS g
         |   ON epoch_us(sl.ts) > (g.bucket_s - 86400) * 1000000
         |   AND epoch_us(sl.ts) <= g.bucket_s * 1000000),
         | lastrow AS (SELECT name, user_id, e AS bucket_s,
         |   last(value ORDER BY ts, event_id) AS v,
         |   last(prev_v ORDER BY ts, event_id) AS pv,
         |   last(epoch_us(prev_ts) ORDER BY ts, event_id) AS pus,
         |   last(floor(epoch(ts)) ORDER BY ts, event_id) AS ts_s,
         |   last(floor(epoch(prev_ts)) ORDER BY ts, event_id) AS pts_s
         |  FROM j GROUP BY name, user_id, e)
         | SELECT name, user_id, bucket_s,
         |  round((v - pv) / (ts_s - pts_s), 9) AS value
         | FROM lastrow
         | WHERE pv IS NOT NULL AND pus > (bucket_s - 86400) * 1000000
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // least-squares slope over window-relative seconds
    "pql_range_deriv" ->
      s"""WITH grid AS (SELECT unnest(generate_series(
         |   1704240000, 1706313600, 21600)) AS bucket_s),
         | j AS (SELECT s.name, s.user_id, s.value,
         |   floor(epoch(s.ts)) - (g.bucket_s - 86400) AS t,
         |   g.bucket_s AS e
         |  FROM (SELECT * FROM ($S) AS s0 WHERE name = 'purchase') AS s
         |  JOIN grid AS g
         |   ON epoch_us(s.ts) > (g.bucket_s - 86400) * 1000000
         |   AND epoch_us(s.ts) <= g.bucket_s * 1000000)
         | SELECT name, user_id, e AS bucket_s,
         |  round(covar_pop(t, value) / var_pop(t), 9) AS value
         | FROM j GROUP BY name, user_id, e
         | HAVING var_pop(t) > 0
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // grid timestamp(): epoch seconds of the last sample in each
    // right-closed staleness window
    "pql_range_ts" ->
      s"""WITH grid AS (SELECT unnest(generate_series(
         |   1704240000, 1706313600, 21600)) AS bucket_s),
         | j AS (SELECT s.name, s.user_id, s.ts, g.bucket_s AS e
         |  FROM (SELECT * FROM ($S) AS s0
         |   WHERE regexp_full_match(name, '(pur|sig).*')) AS s
         |  JOIN grid AS g
         |   ON epoch_us(s.ts) > (g.bucket_s - 7200) * 1000000
         |   AND epoch_us(s.ts) <= g.bucket_s * 1000000)
         | SELECT name, user_id, e AS bucket_s,
         |  round(epoch_us(max(ts)) / 1000000.0, 6) AS value
         | FROM j GROUP BY name, user_id, e
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // grid histogram_quantile(): synthesized-le interpolation over
    // the staleness-window instant vector, keyed per grid instant
    "pql_range_hq" -> {
      val le = "CASE WHEN value <= 10 THEN 10.0 WHEN value <= 25 THEN 25.0 " +
        "WHEN value <= 50 THEN 50.0 WHEN value <= 100 THEN 100.0 " +
        "WHEN value <= 150 THEN 150.0 WHEN value <= 200 THEN 200.0 " +
        "ELSE CAST('infinity' AS DOUBLE) END"
      s"""WITH grid AS (SELECT unnest(generate_series(
         |   1704240000, 1706313600, 21600)) AS bucket_s),
         | j AS (SELECT s.name, s.user_id, s.ts, s.event_id, s.value,
         |   g.bucket_s AS e
         |  FROM (SELECT * FROM ($S) AS s0 WHERE name = 'purchase') AS s
         |  JOIN grid AS g
         |   ON epoch_us(s.ts) > (g.bucket_s - 7200) * 1000000
         |   AND epoch_us(s.ts) <= g.bucket_s * 1000000),
         | lastv AS (SELECT name, user_id, e AS bucket_s,
         |   last(value ORDER BY ts, event_id) AS value
         |  FROM j GROUP BY name, user_id, e)
         | SELECT name, bucket_s,
         | round(CASE WHEN isinf(le) THEN lo
         |   ELSE lo + (le - lo) * (q_rank - cum_prev) / (cum - cum_prev) END, 6) AS value
         | FROM (
         |  SELECT *, 0.9 * total AS q_rank FROM (
         |   SELECT name, bucket_s, le, c,
         |    sum(c) OVER (PARTITION BY name, bucket_s ORDER BY le) AS cum,
         |    coalesce(sum(c) OVER (PARTITION BY name, bucket_s ORDER BY le
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev,
         |    coalesce(lag(le) OVER (PARTITION BY name, bucket_s ORDER BY le), 0.0) AS lo,
         |    sum(c) OVER (PARTITION BY name, bucket_s) AS total
         |   FROM (SELECT name, bucket_s, $le AS le, count(*) AS c FROM lastv
         |         GROUP BY name, bucket_s, le) AS cnt) AS cm) AS r
         | WHERE cum >= q_rank AND cum_prev < q_rank
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " ")
    },
    // pinned-instant leg: one right-closed window at end(), series
    // sums averaged by name, replicated across the grid
    "pql_range_at" ->
      s"""WITH grid AS (SELECT unnest(generate_series(
         |   1704240000, 1704672000, 21600)) AS bucket_s),
         | pin AS (SELECT name, user_id, round(sum(value), 6) AS v
         |  FROM ($S) AS s
         |  WHERE regexp_full_match(name, '(pur|cli).*')
         |   AND epoch_us(ts) > (1704672000::BIGINT - 86400) * 1000000
         |   AND epoch_us(ts) <= 1704672000::BIGINT * 1000000
         |  GROUP BY 1, 2),
         | a AS (SELECT name, round(avg(v), 6) AS value FROM pin GROUP BY 1)
         | SELECT a.name, g.bucket_s, a.value
         | FROM a CROSS JOIN grid AS g
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    // instant-vector grid: arg_max over the right-closed staleness
    // window = the engine's last_over_time leaf
    "pql_range_instant" ->
      s"""WITH grid AS (SELECT unnest(generate_series(
         |   1704240000, 1706313600, 21600)) AS bucket_s),
         | j AS (SELECT s.name, s.user_id, s.ts, s.event_id, s.value,
         |   g.bucket_s AS e
         |  FROM (SELECT * FROM ($S) AS s0
         |   WHERE regexp_full_match(name, '(pur|sig).*')) AS s
         |  JOIN grid AS g
         |   ON epoch_us(s.ts) > (g.bucket_s - 7200) * 1000000
         |   AND epoch_us(s.ts) <= g.bucket_s * 1000000),
         | lastv AS (SELECT name, user_id, e AS bucket_s,
         |   last(value ORDER BY ts, event_id) AS value
         |  FROM j GROUP BY name, user_id, e)
         | SELECT name, bucket_s, round(avg(value), 6) AS value
         | FROM lastv GROUP BY name, bucket_s
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "pql_abs_avg" ->
      s"""SELECT name, bucket_s, round(avg(abs(value)), 6) AS value
         | FROM ($INST) AS i WHERE name = 'purchase'
         | GROUP BY name, bucket_s ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "pql_topk" ->
      s"""SELECT name, user_id, bucket_s, value FROM (
         | SELECT *, row_number() OVER (PARTITION BY name, bucket_s
         |   ORDER BY value DESC, user_id ASC) AS rk FROM ($INST) AS i) AS t
         | WHERE rk <= 3 ORDER BY name, bucket_s, user_id""".stripMargin.replace("\n", " "),
    "pql_quantile_ot" ->
      s"""SELECT name, user_id, bucket_s, round(quantile_cont(value, 0.5), 6) AS value
         | FROM ($S) AS s WHERE name = 'purchase'
         | GROUP BY name, user_id, bucket_s
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_binop" ->
      s"""SELECT name, user_id, bucket_s,
         | round(round(rate_r, 9) * 86400, 6) AS value
         | FROM ${extrapSql(rateAggDay("WHERE name = 'purchase'"),
            "name, user_id, bucket_s", 86400)} AS t
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_label" ->
      s"""SELECT name, user_id, bucket_s, value,
         | CASE WHEN regexp_matches(name, '(pur).*')
         |      THEN regexp_replace(name, '(pur).*', 'g_\\1') ELSE '' END AS "group",
         | name || '/' || CAST(user_id AS VARCHAR) AS series
         | FROM ($INST) AS i WHERE name = 'purchase'
         | ORDER BY user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_bool" ->
      s"""SELECT name, user_id, bucket_s, CAST(value > 150 AS DOUBLE) AS value
         | FROM ($INST) AS i WHERE name = 'purchase'
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_group_left" ->
      s"""SELECT l.name, l.user_id, l.bucket_s,
         | round(CASE WHEN g.total <> 0 THEN l.value / g.total END, 9) AS value
         | FROM ($INST) AS l JOIN (
         |  SELECT name, bucket_s, sum(value) AS total FROM ($INST) AS i
         |  GROUP BY name, bucket_s) AS g
         |  ON l.name = g.name AND l.bucket_s = g.bucket_s
         | ORDER BY l.name, l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "pql_vec_ratio" ->
      s"""SELECT l.user_id, l.bucket_s,
         | round(CASE WHEN r.value <> 0 THEN l.value / r.value END, 9) AS value
         | FROM ($INST) AS l JOIN ($INST) AS r
         |  ON l.user_id = r.user_id AND l.bucket_s = r.bucket_s
         | WHERE l.name = 'purchase' AND r.name = 'click'
         | ORDER BY l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "pql_vec_unless" ->
      s"""SELECT l.name, l.user_id, l.bucket_s, l.value FROM ($INST) AS l
         | WHERE l.name = 'purchase' AND NOT EXISTS (
         |  SELECT 1 FROM ($INST) AS r WHERE r.name = 'click' AND r.value > 120
         |   AND r.user_id = l.user_id AND r.bucket_s = l.bucket_s)
         | ORDER BY l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "pql_histogram" -> {
      val le = "CASE WHEN value <= 10 THEN 10.0 WHEN value <= 25 THEN 25.0 " +
        "WHEN value <= 50 THEN 50.0 WHEN value <= 100 THEN 100.0 " +
        "WHEN value <= 150 THEN 150.0 WHEN value <= 200 THEN 200.0 " +
        "ELSE CAST('infinity' AS DOUBLE) END"
      s"""SELECT name, bucket_s,
         | round(CASE WHEN isinf(le) THEN lo
         |   ELSE lo + (le - lo) * (q_rank - cum_prev) / (cum - cum_prev) END, 6) AS value
         | FROM (
         |  SELECT *, 0.9 * total AS q_rank FROM (
         |   SELECT name, bucket_s, le, c,
         |    sum(c) OVER (PARTITION BY name, bucket_s ORDER BY le) AS cum,
         |    coalesce(sum(c) OVER (PARTITION BY name, bucket_s ORDER BY le
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev,
         |    coalesce(lag(le) OVER (PARTITION BY name, bucket_s ORDER BY le), 0.0) AS lo,
         |    sum(c) OVER (PARTITION BY name, bucket_s) AS total
         |   FROM (SELECT name, bucket_s, $le AS le, count(*) AS c FROM ($S) AS s
         |         WHERE name = 'purchase'
         |         GROUP BY name, bucket_s, le) AS cnt) AS cm) AS r
         | WHERE cum >= q_rank AND cum_prev < q_rank
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " ")
    },
    "pql_absent" ->
      s"""SELECT d.bucket_s, 1.0 AS value
         | FROM (SELECT DISTINCT bucket_s FROM ($S) AS s) AS d
         | WHERE d.bucket_s NOT IN (
         |   SELECT DISTINCT bucket_s FROM ($INST) AS i
         |   WHERE name = 'purchase' AND user_id = 7 AND value > 150)
         | ORDER BY d.bucket_s""".stripMargin.replace("\n", " "),
    "pql_sort" ->
      s"""SELECT user_id, bucket_s, round(v, 6) AS value,
         | row_number() OVER (PARTITION BY bucket_s
         |   ORDER BY v DESC, user_id ASC) AS sort_rank
         | FROM (SELECT user_id, bucket_s, sum(value) AS v FROM ($INST) AS i
         |  WHERE name = 'purchase' GROUP BY user_id, bucket_s) AS t
         | ORDER BY bucket_s, sort_rank""".stripMargin.replace("\n", " "),
    "pql_rate_sliding" ->
      s"""SELECT name, user_id, bucket_s, round(rate_r, 9) + 0.0 AS value
         | FROM ${slidingRateRel("WHERE name = 'purchase'")} AS rv
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_subquery" ->
      s"""WITH rv AS (SELECT name, user_id, bucket_s,
         |  round(rate_r, 9) + 0.0 AS value
         | FROM ${slidingRateRel("WHERE name = 'purchase'")} AS r)
         | SELECT name, user_id, bucket_s,
         |  max(value) OVER (PARTITION BY name, user_id ORDER BY bucket_s
         |   RANGE BETWEEN 259199 PRECEDING AND CURRENT ROW) AS value
         | FROM rv
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_subquery_q" ->
      s"""WITH rv AS (SELECT name, user_id, bucket_s,
         |  round(rate_r, 9) + 0.0 AS value
         | FROM ${slidingRateRel("WHERE name = 'purchase'")} AS r)
         | SELECT name, user_id, bucket_s,
         |  round(quantile_cont(value, 0.9) OVER (PARTITION BY name, user_id
         |   ORDER BY bucket_s
         |   RANGE BETWEEN 259199 PRECEDING AND CURRENT ROW), 6) AS value
         | FROM rv
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    // gap windows: inner 1h window joined to the 6h step grid (the
    // same membership bounds work for ANY lookback/step ratio), then
    // the right-closed trailing-2d range window over the steps
    "pql_subquery_sparse" ->
      s"""WITH iv AS (SELECT s.name, s.user_id, g.bucket_s,
         |  round(sum(s.value), 6) AS value
         | FROM (SELECT * FROM ($S) AS s0 WHERE name = 'purchase') AS s
         | JOIN ($GRID) AS g
         |  ON floor(epoch(s.ts)) >= g.bucket_s - 3600
         |  AND floor(epoch(s.ts)) < g.bucket_s
         | GROUP BY 1, 2, 3)
         | SELECT name, user_id, bucket_s,
         |  max(value) OVER (PARTITION BY name, user_id ORDER BY bucket_s
         |   RANGE BETWEEN 172799 PRECEDING AND CURRENT ROW) AS value
         | FROM iv
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_subquery_agg" ->
      s"""WITH rv AS (SELECT name, user_id, bucket_s,
         |  round(rate_r, 9) + 0.0 AS value
         | FROM ${slidingRateRel(
            "WHERE regexp_full_match(name, '(pur|cli).*')")} AS r),
         | sm AS (SELECT name, bucket_s, sum(value) AS value
         |  FROM rv GROUP BY name, bucket_s)
         | SELECT name, bucket_s,
         |  round(max(value) OVER (PARTITION BY name ORDER BY bucket_s
         |   RANGE BETWEEN 259199 PRECEDING AND CURRENT ROW), 9) AS value
         | FROM sm
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    // the unshifted trailing window re-stamped one day forward
    "pql_subquery_offset" ->
      s"""WITH rv AS (SELECT name, user_id, bucket_s,
         |  round(rate_r, 9) + 0.0 AS value
         | FROM ${slidingRateRel(
            "WHERE regexp_full_match(name, '(pur|cli).*')")} AS r),
         | sm AS (SELECT name, bucket_s, sum(value) AS value
         |  FROM rv GROUP BY name, bucket_s),
         | wv AS (SELECT name, bucket_s,
         |  round(max(value) OVER (PARTITION BY name ORDER BY bucket_s
         |   RANGE BETWEEN 259199 PRECEDING AND CURRENT ROW), 9) AS value
         | FROM sm)
         | SELECT name, bucket_s + 86400 AS bucket_s, value FROM wv
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    // one pinned window (end−3d, end] of the summed-rate steps,
    // replicated across the grid
    "pql_range_subquery_at" ->
      s"""WITH rv AS (SELECT name, user_id, bucket_s,
         |  round(rate_r, 9) + 0.0 AS value
         | FROM ${slidingRateRel(
            "WHERE regexp_full_match(name, '(pur|cli).*')")} AS r),
         | sm AS (SELECT name, bucket_s, sum(value) AS value
         |  FROM rv GROUP BY name, bucket_s),
         | grid AS (SELECT unnest(generate_series(
         |   1704240000, 1706313600, 10800)) AS bucket_s),
         | pin AS (SELECT name, round(max(value), 9) AS value FROM sm
         |  WHERE bucket_s > 1706313600 - 259200
         |   AND bucket_s <= 1706313600 GROUP BY name)
         | SELECT pin.name, g.bucket_s, pin.value
         | FROM pin CROSS JOIN grid AS g
         | ORDER BY pin.name, g.bucket_s""".stripMargin.replace("\n", " "),
    "pql_count_values" ->
      s"""SELECT name, user_id, bucket_s,
         | CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS val,
         | CAST(count(*) AS DOUBLE) AS value
         | FROM ($INST) AS i WHERE name = 'purchase'
         | GROUP BY name, user_id, bucket_s, val
         | ORDER BY name, user_id, bucket_s, val""".stripMargin.replace("\n", " "),
    "pql_scalar" ->
      s"""WITH p AS (SELECT * FROM ($INST) AS i WHERE name = 'purchase'),
         | sc AS (SELECT bucket_s, CASE WHEN count(*) = 1 THEN min(value)
         |   ELSE CAST('NaN' AS DOUBLE) END AS s
         |  FROM p WHERE user_id = 7 GROUP BY bucket_s)
         | SELECT p.name, p.user_id, p.bucket_s,
         |  round(CASE WHEN sc.s <> 0 THEN p.value / sc.s END, 9) AS value
         | FROM p JOIN sc USING (bucket_s)
         | ORDER BY p.user_id, p.bucket_s""".stripMargin.replace("\n", " "),
    "pql_prec" ->
      s"""SELECT l.user_id, l.bucket_s,
         | round((CASE WHEN r.value <> 0 THEN l.value / r.value END) * 100, 9) AS value
         | FROM ($INST) AS l JOIN ($INST) AS r
         |  ON l.user_id = r.user_id AND l.bucket_s = r.bucket_s
         | WHERE l.name = 'purchase' AND r.name = 'click'
         | ORDER BY l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "pql_mod_pow" ->
      s"""SELECT name, user_id, bucket_s,
         | round(fmod(pow(value, 2), 7), 6) AS value
         | FROM ($INST) AS i WHERE name = 'purchase'
         | ORDER BY user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_time_fns" ->
      s"""WITH t AS (SELECT name, user_id, bucket_s, ts,
         |   row_number() OVER (PARTITION BY name, user_id, bucket_s
         |     ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM ($S) AS s WHERE name = 'purchase')
         | SELECT name, user_id, bucket_s,
         |  CAST(hour(ts) AS DOUBLE) AS value
         | FROM t WHERE rn = 1
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_at" ->
      s"""SELECT name, user_id, bucket_s, value FROM ($INST) AS i
         | WHERE name = 'purchase' AND bucket_s = 1704844800
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_neg_offset" ->
      s"""SELECT name, user_id, bucket_s - 86400 AS bucket_s, value
         | FROM ($INST) AS i WHERE name = 'purchase'
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_at_edge" ->
      s"""SELECT name, user_id, bucket_s, value FROM ($INST) AS i
         | WHERE name = 'purchase' AND (
         |  bucket_s = (SELECT CAST(floor(epoch(date_trunc('day', max(ts)))) AS BIGINT) FROM events)
         |  OR bucket_s = (SELECT CAST(floor(epoch(date_trunc('day', min(ts)))) AS BIGINT) FROM events))
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_compound" ->
      s"""WITH g AS (SELECT unnest(generate_series(
         |  CAST(floor(epoch(min(ts)) / 5400) * 5400 + 5400 AS BIGINT),
         |  CAST(floor(epoch(max(ts)) / 5400) * 5400 + 5400 AS BIGINT),
         |  5400)) AS bucket_s FROM events)
         | SELECT s.name, s.user_id, g.bucket_s,
         |  round(sum(s.value), 6) + 0.0 AS value
         | FROM ($S) AS s JOIN g
         |  ON floor(epoch(s.ts)) >= g.bucket_s - 5400
         |  AND floor(epoch(s.ts)) < g.bucket_s
         | WHERE s.name = 'click'
         | GROUP BY s.name, s.user_id, g.bucket_s
         | ORDER BY s.name, s.user_id, g.bucket_s""".stripMargin.replace("\n", " "),
    "pql_var" ->
      s"""SELECT name, bucket_s, round(var_pop(sv), 6) AS value
         | FROM (SELECT name, user_id, bucket_s,
         |  round(var_pop(value), 6) / 1000 AS sv
         |  FROM ($S) AS s WHERE name = 'purchase'
         |  GROUP BY name, user_id, bucket_s) AS t
         | GROUP BY name, bucket_s
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "pql_absent_ot" ->
      s"""SELECT d.bucket_s, 1.0 AS value
         | FROM (SELECT DISTINCT bucket_s FROM ($S) AS s) AS d
         | WHERE d.bucket_s NOT IN (
         |   SELECT DISTINCT bucket_s FROM ($S) AS s2
         |   WHERE name = 'signup' AND user_id = 3)
         | ORDER BY d.bucket_s""".stripMargin.replace("\n", " "),
    // sum of per-series presence 1.0s = distinct series present
    "pql_present_ot" ->
      s"""SELECT name, bucket_s,
         |  CAST(count(DISTINCT user_id) AS DOUBLE) AS value
         | FROM ($S) AS s WHERE name = 'purchase'
         | GROUP BY name, bucket_s
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    // per-series as-of sample timestamp (floor-second like Spark's
    // unix_timestamp), then the max over series per (name, day)
    "pql_timestamp" ->
      s"""WITH t AS (SELECT name, user_id, bucket_s,
         |   CAST(floor(epoch(ts)) AS DOUBLE) AS value,
         |   row_number() OVER (PARTITION BY name, user_id, bucket_s
         |     ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM ($S) AS s
         |  WHERE regexp_full_match(name, 'purchase|view'))
         | SELECT name, bucket_s, max(value) AS value
         | FROM t WHERE rn = 1
         | GROUP BY name, bucket_s
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "pql_group" ->
      s"""SELECT name, bucket_s, 1.0 AS value FROM ($INST) AS i
         | WHERE regexp_full_match(name, 'purchase|view')
         | GROUP BY name, bucket_s
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "pql_sort_label" ->
      s"""SELECT user_id, bucket_s, round(v, 6) AS value,
         | dense_rank() OVER (ORDER BY CAST(user_id AS VARCHAR) DESC)
         |   AS sort_rank
         | FROM (SELECT user_id, bucket_s, sum(value) AS v FROM ($INST) AS i
         |  WHERE name = 'purchase' GROUP BY user_id, bucket_s) AS t
         | ORDER BY bucket_s, sort_rank""".stripMargin.replace("\n", " "),
    "pql_clamp" ->
      s"""SELECT user_id, bucket_s,
         | round(least(greatest(v, 80), 120), 6) AS value
         | FROM (SELECT user_id, bucket_s, sum(value) AS v FROM ($INST) AS i
         |  WHERE name = 'purchase' GROUP BY user_id, bucket_s) AS t
         | ORDER BY user_id, bucket_s""".stripMargin.replace("\n", " "),
    "pql_trig" ->
      s"""SELECT name, bucket_s,
         | round(degrees(atan2(v, 100.0)) % pi(), 6) AS value
         | FROM (SELECT name, bucket_s, sum(value) AS v FROM ($INST) AS i
         |  WHERE regexp_full_match(name, 'purchase|view')
         |  GROUP BY name, bucket_s) AS t
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "pql_trig2" ->
      s"""SELECT name, user_id, bucket_s,
         | round(cos(asin(sin(radians(value)) / 2)), 6) AS value
         | FROM ($INST) AS i WHERE name = 'click'
         | ORDER BY user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_agg_without" ->
      s"""SELECT name, user_id % 10 AS cohort, bucket_s,
         | round(sum(value), 6) AS sum_v, min(value) AS min_v, max(value) AS max_v,
         | round(avg(value), 6) AS avg_v, count(*) AS count_v
         | FROM ($INST) AS i GROUP BY name, user_id % 10, bucket_s
         | ORDER BY name, cohort, bucket_s""".stripMargin.replace("\n", " "),
    "ts_binary_ignoring" ->
      s"""SELECT l.user_id, l.bucket_s,
         | round(CASE WHEN r.value <> 0 THEN l.value / r.value END, 9) AS ratio_v
         | FROM ($INST) AS l JOIN ($INST) AS r
         |  ON l.user_id = r.user_id AND l.bucket_s = r.bucket_s
         | WHERE l.name = 'purchase' AND r.name = 'click'
         | ORDER BY l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "ts_binary_group_left" ->
      s"""SELECT l.name, l.user_id, l.bucket_s, l.value,
         | round(l.value / g.total, 9) AS share_v
         | FROM ($INST) AS l JOIN (
         |  SELECT name, bucket_s, sum(value) AS total FROM ($INST) AS i
         |  GROUP BY name, bucket_s) AS g
         |  ON l.name = g.name AND l.bucket_s = g.bucket_s
         | ORDER BY l.name, l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "ts_binary_filter" ->
      s"""SELECT l.user_id, l.bucket_s, l.value
         | FROM ($INST) AS l JOIN ($INST) AS r
         |  ON l.user_id = r.user_id AND l.bucket_s = r.bucket_s
         | WHERE l.name = 'purchase' AND r.name = 'click' AND l.value > r.value
         | ORDER BY l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "ts_binary_bool" ->
      s"""SELECT l.user_id, l.bucket_s, CAST(l.value > r.value AS DOUBLE) AS value
         | FROM ($INST) AS l JOIN ($INST) AS r
         |  ON l.user_id = r.user_id AND l.bucket_s = r.bucket_s
         | WHERE l.name = 'purchase' AND r.name = 'click'
         | ORDER BY l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "ts_scalar_time" ->
      s"""WITH p AS (SELECT * FROM ($INST) AS i WHERE name = 'purchase'),
         | one AS (SELECT bucket_s, CASE WHEN count(*) = 1 THEN min(value)
         |   ELSE CAST('NaN' AS DOUBLE) END AS scalar_v
         |  FROM p WHERE user_id = 7 GROUP BY bucket_s),
         | multi AS (SELECT bucket_s, CASE WHEN count(*) = 1 THEN min(value)
         |   ELSE CAST('NaN' AS DOUBLE) END AS scalar_multi_v
         |  FROM p GROUP BY bucket_s)
         | SELECT p.name, p.user_id, p.bucket_s, CAST(p.bucket_s AS DOUBLE) AS time_v,
         |  one.scalar_v, multi.scalar_multi_v,
         |  round(p.value / one.scalar_v, 9) AS ratio_v
         | FROM p JOIN one USING (bucket_s) JOIN multi USING (bucket_s)
         | ORDER BY p.user_id, p.bucket_s""".stripMargin.replace("\n", " "),
    "ts_offset" ->
      s"""SELECT l.user_id, l.bucket_s, l.value, r.value AS prev_v,
         | round(l.value - r.value, 6) AS diff_v
         | FROM ($INST) AS l JOIN ($INST) AS r
         |  ON l.user_id = r.user_id AND l.bucket_s = r.bucket_s + 86400
         | WHERE l.name = 'purchase' AND r.name = 'purchase'
         | ORDER BY l.user_id, l.bucket_s""".stripMargin.replace("\n", " "),
    "m3ql_agg" ->
      s"""SELECT name, bucket_s, round(avg(value), 6) AS value
         | FROM ($INST) AS i GROUP BY name, bucket_s
         | HAVING avg(value) >= 48.7
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "store_m3ql" ->
      s"""SELECT name, bucket_s, round(avg(value), 6) AS value
         | FROM ($INST) AS i GROUP BY name, bucket_s
         | HAVING avg(value) >= 48.7
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "m3ql_fetch" ->
      s"""SELECT name, user_id, bucket_s, round(sqrt(value), 6) AS value
         | FROM ($INST) AS i WHERE name = 'purchase' AND user_id = 7
         | ORDER BY bucket_s""".stripMargin.replace("\n", " "),
    "m3ql_macro" ->
      s"""SELECT name, bucket_s, round(log10(v), 6) AS value
         | FROM (SELECT name, bucket_s, sum(value) AS v FROM ($INST) AS i
         |       GROUP BY name, bucket_s) AS t
         | WHERE v > 100 ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "m3ql_transform" ->
      s"""SELECT name, bucket_s,
         | round(min(-ceil(sqrt(CASE WHEN value >= 0 THEN value END))), 6) AS value
         | FROM ($INST) AS i WHERE name = 'click'
         | GROUP BY name, bucket_s ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    // nested divide-by-aggregate: left instant ⋈ per-name sum on the
    // shared (name, bucket); the denominator rounds to 6 BEFORE the
    // division (float-sum last-ulp varies with summation order even
    // across DuckDB thread schedules — dividing rounded inputs makes
    // the quotient bit-identical); null at zero denominators drops
    // (no keepNaN in the script)
    "m3ql_nested" ->
      s"""WITH l AS (SELECT name, user_id, bucket_s, value
         |  FROM ($INST) AS i WHERE value IS NOT NULL),
         | r AS (SELECT name, bucket_s, round(sum(value), 6) AS rv
         |  FROM ($INST) AS i GROUP BY 1, 2)
         | SELECT l.name, l.user_id, l.bucket_s,
         |  round(l.value / r.rv * 100.0, 6) AS value
         | FROM l JOIN r ON r.name = l.name AND r.bucket_s = l.bucket_s
         | WHERE r.rv != 0
         | ORDER BY l.name, l.user_id, l.bucket_s"""
        .stripMargin.replace("\n", " "),
    "m3ql_glob" ->
      s"""SELECT name, bucket_s, round(sum(value), 6) AS value
         | FROM ($INST) AS i
         | WHERE name IN ('purchase', 'signup')
         |  AND regexp_matches(CAST(user_id AS VARCHAR), '^1[^.]$$')
         | GROUP BY name, bucket_s
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "m3ql_multi" ->
      s"""SELECT name, bucket_s + 3600 AS bucket_s,
         | round(quantile_cont(least(greatest(value, 50), 150), 0.9), 6) AS value
         | FROM ($INST) AS i WHERE name = 'purchase'
         | GROUP BY name, bucket_s
         | ORDER BY name, bucket_s""".stripMargin.replace("\n", " "),
    "m3ql_top" ->
      s"""SELECT name, user_id, bucket_s, value FROM (
         | SELECT *, row_number() OVER (PARTITION BY name, bucket_s
         |   ORDER BY value DESC, user_id ASC) AS rk FROM ($INST) AS i) AS t
         | WHERE rk <= 2 ORDER BY name, bucket_s, user_id""".stripMargin.replace("\n", " "),
    "ts_label_join" ->
      s"""SELECT name, user_id, bucket_s, value,
         | name || '/' || CAST(user_id AS VARCHAR) AS series_id
         | FROM ($INST) AS i ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_label_replace" ->
      s"""SELECT name, user_id, bucket_s, value,
         | CASE WHEN regexp_matches(name, '^(pur|cli)')
         |      THEN regexp_replace(name, '^(pur|cli)', 'g_\\1') ELSE '' END AS "group"
         | FROM ($INST) AS i ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ds_rollup" ->
      s"""SELECT name, user_id, bucket_s,
         | last(value ORDER BY ts, event_id) AS last_v, min(value) AS min_v,
         | max(value) AS max_v, round(avg(value), 6) AS mean_v,
         | round(sum(value), 6) AS sum_v, count(*) AS count_v,
         | round(coalesce(stddev_samp(value), 0), 6) AS stdev_v,
         | round(list_sort(list(value))[CAST(GREATEST(ceil(0.5 * count(*)), 1) AS INT)], 6) AS p50_v,
         | round(list_sort(list(value))[CAST(GREATEST(ceil(0.95 * count(*)), 1) AS INT)], 6) AS p95_v,
         | round(list_sort(list(value))[CAST(GREATEST(ceil(0.99 * count(*)), 1) AS INT)], 6) AS p99_v
         | FROM (SELECT event_type AS name, user_id, ts, value, event_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s FROM events) AS s
         | GROUP BY name, user_id, bucket_s ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "store_rollup" ->
      s"""SELECT name, user_id, bucket_s,
         | last(value ORDER BY ts, event_id) AS last_v, min(value) AS min_v,
         | max(value) AS max_v, round(avg(value), 6) AS mean_v,
         | round(sum(value), 6) AS sum_v, count(*) AS count_v,
         | round(coalesce(stddev_samp(value), 0), 6) AS stdev_v,
         | round(list_sort(list(value))[CAST(GREATEST(ceil(0.5 * count(*)), 1) AS INT)], 6) AS p50_v,
         | round(list_sort(list(value))[CAST(GREATEST(ceil(0.95 * count(*)), 1) AS INT)], 6) AS p95_v,
         | round(list_sort(list(value))[CAST(GREATEST(ceil(0.99 * count(*)), 1) AS INT)], 6) AS p99_v
         | FROM (SELECT event_type AS name, user_id, ts, value, event_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s FROM events) AS s
         | GROUP BY name, user_id, bucket_s ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ds_rules" ->
      s"""WITH hb AS (SELECT event_type AS name, user_id, ts, value, event_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s FROM events),
         | db AS (SELECT event_type AS name, user_id, ts, value, event_id,
         |  CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s FROM events),
         | ph AS (SELECT name, user_id, bucket_s, round(sum(value), 6) AS sum_v,
         |   CAST(count(*) AS DOUBLE) AS count_v, round(max(value), 6) AS max_v
         |  FROM hb WHERE name = 'purchase' GROUP BY name, user_id, bucket_s),
         | cd AS (SELECT name, user_id, bucket_s, round(avg(value), 6) AS mean_v,
         |   round(last(value ORDER BY ts, event_id), 6) AS last_v
         |  FROM db WHERE name = 'click' GROUP BY name, user_id, bucket_s),
         | ad AS (SELECT name, user_id, bucket_s, CAST(count(*) AS DOUBLE) AS count_v
         |  FROM db WHERE regexp_full_match(name, '.*') GROUP BY name, user_id, bucket_s),
         | ed AS (SELECT name, user_id, bucket_s,
         |   round(coalesce(stddev_samp(value), 0), 6) AS stdev_v,
         |   round(list_sort(list(value))[CAST(GREATEST(ceil(0.95 * count(*)), 1) AS INT)], 6) AS p95_v,
         |   round(sum(value * value), 6) AS sumsq_v
         |  FROM db WHERE name = 'error' GROUP BY name, user_id, bucket_s)
         | SELECT * FROM (
         |  SELECT 'purchases_hourly' AS rule, 'hour' AS resolution, name, user_id,
         |   bucket_s, 'sum' AS agg, sum_v AS value FROM ph
         |  UNION ALL SELECT 'purchases_hourly', 'hour', name, user_id, bucket_s,
         |   'count', count_v FROM ph
         |  UNION ALL SELECT 'purchases_hourly', 'hour', name, user_id, bucket_s,
         |   'max', max_v FROM ph
         |  UNION ALL SELECT 'clicks_daily', 'day', name, user_id, bucket_s,
         |   'mean', mean_v FROM cd
         |  UNION ALL SELECT 'clicks_daily', 'day', name, user_id, bucket_s,
         |   'last', last_v FROM cd
         |  UNION ALL SELECT 'all_daily', 'day', name, user_id, bucket_s,
         |   'count', count_v FROM ad
         |  UNION ALL SELECT 'errors_daily', 'day', name, user_id, bucket_s,
         |   'stdev', stdev_v FROM ed
         |  UNION ALL SELECT 'errors_daily', 'day', name, user_id, bucket_s,
         |   'p95', p95_v FROM ed
         |  UNION ALL SELECT 'errors_daily', 'day', name, user_id, bucket_s,
         |   'sum_sq', sumsq_v FROM ed) AS u
         | ORDER BY rule, name, user_id, bucket_s, agg""".stripMargin.replace("\n", " "),
    "ds_rollup_target" ->
      s"""WITH db AS (SELECT event_type AS name, user_id, value,
         |  CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s FROM events),
         | t1 AS (SELECT bucket_s, round(sum(value), 6) AS sum_v,
         |   CAST(count(*) AS DOUBLE) AS count_v
         |  FROM db WHERE regexp_full_match(name, '(purchase|click)') GROUP BY bucket_s),
         | t2 AS (SELECT name, user_id, bucket_s, round(sum(value), 6) AS sum_v
         |  FROM db WHERE regexp_full_match(name, '(purchase|click)')
         |  GROUP BY name, user_id, bucket_s),
         | t3 AS (SELECT bucket_s, CAST(count(*) AS DOUBLE) AS count_v,
         |   round(list_sort(list(value))[CAST(GREATEST(ceil(0.95 * count(*)), 1) AS INT)], 6) AS p95_v
         |  FROM db WHERE name = 'error' GROUP BY bucket_s)
         | SELECT * FROM (
         |  SELECT 'svc_rollup' AS rule, 'day' AS resolution,
         |   'service_events_total' AS name, CAST(NULL AS BIGINT) AS user_id,
         |   bucket_s, 'sum' AS agg, sum_v AS value FROM t1
         |  UNION ALL SELECT 'svc_rollup', 'day', 'service_events_total',
         |   CAST(NULL AS BIGINT), bucket_s, 'count', count_v FROM t1
         |  UNION ALL SELECT 'svc_rollup', 'day', name || '_by_user', user_id,
         |   bucket_s, 'sum', sum_v FROM t2
         |  UNION ALL SELECT 'errors_rollup', 'day', 'errors_all',
         |   CAST(NULL AS BIGINT), bucket_s, 'count', count_v FROM t3
         |  UNION ALL SELECT 'errors_rollup', 'day', 'errors_all',
         |   CAST(NULL AS BIGINT), bucket_s, 'p95', p95_v FROM t3) AS u
         | ORDER BY rule, name, user_id, bucket_s, agg""".stripMargin.replace("\n", " "),
    "ds_rollup_keep" ->
      s"""SELECT name, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         | value, event_id
         | FROM ($S) AS s
         | WHERE NOT (name = 'purchase')
         | ORDER BY event_id""".stripMargin.replace("\n", " "),
    "ds_rule_filter" ->
      s"""SELECT name, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         | value, event_id
         | FROM ($S) AS s
         | WHERE regexp_full_match(name, '(?:purchase|click).*')
         |  AND NOT regexp_full_match(CAST(user_id AS VARCHAR), '1.')
         | ORDER BY event_id""".stripMargin.replace("\n", " "),
    "ds_rollup_pipeline" ->
      s"""WITH m AS (SELECT event_type AS name, user_id, ts, value, event_id
         |  FROM events WHERE regexp_full_match(event_type, '(purchase|click)')),
         | t AS (SELECT name, user_id, ts, value, event_id,
         |   CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s,
         |   lag(value) OVER w AS pv, lag(ts) OVER w AS pts
         |  FROM m WINDOW w AS (PARTITION BY name, user_id ORDER BY ts, event_id)),
         | inc AS (SELECT name, user_id, bucket_s, value - pv AS v FROM t
         |  WHERE pts IS NOT NULL AND pts < ts AND value - pv >= 0),
         | rate AS (SELECT name, user_id, bucket_s,
         |   (value - pv) / ((epoch_us(ts) - epoch_us(pts)) / 1000000.0) AS v
         |  FROM t WHERE pts IS NOT NULL AND pts < ts AND value - pv >= 0),
         | cum AS (SELECT name, user_id, ts, event_id, bucket_s,
         |   sum(value) OVER (PARTITION BY name, user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS v
         |  FROM t)
         | SELECT * FROM (
         |  SELECT 'pipe' AS rule, 'day' AS resolution,
         |   name || '_inc_daily' AS name, user_id, bucket_s,
         |   'sum' AS agg, round(sum(v), 6) AS value
         |  FROM inc GROUP BY name, user_id, bucket_s
         |  UNION ALL SELECT 'pipe', 'day', name || '_rate_daily', user_id,
         |   bucket_s, 'max', round(max(v), 6)
         |  FROM rate GROUP BY name, user_id, bucket_s
         |  UNION ALL SELECT 'pipe', 'day', name || '_cum_daily', user_id,
         |   bucket_s, 'last', round(last(v ORDER BY ts, event_id), 6)
         |  FROM cum GROUP BY name, user_id, bucket_s) AS u
         | ORDER BY rule, name, user_id, bucket_s, agg""".stripMargin.replace("\n", " "),
    "ds_multi_res" -> {
      val fine =
        """SELECT name, user_id, bucket_s, sum(value) AS sum_v, count(*) AS count_v,
          | min(value) AS min_v, max(value) AS max_v
          | FROM (SELECT event_type AS name, user_id, value,
          |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s FROM events) AS s
          | GROUP BY name, user_id, bucket_s""".stripMargin.replace("\n", " ")
      s"""SELECT * FROM (
         | SELECT name, user_id, '1h' AS resolution, bucket_s, round(sum_v, 6) AS sum_v,
         |  count_v, min_v, max_v, round(sum_v / count_v, 6) AS mean_v FROM ($fine) AS f
         | UNION ALL
         | SELECT name, user_id, '1d' AS resolution,
         |  CAST(floor(bucket_s / 86400) AS BIGINT) * 86400 AS bucket_s,
         |  round(sum(sum_v), 6) AS sum_v, CAST(sum(count_v) AS BIGINT) AS count_v, min(min_v) AS min_v,
         |  max(max_v) AS max_v, round(sum(sum_v) / sum(count_v), 6) AS mean_v
         | FROM ($fine) AS f GROUP BY name, user_id, CAST(floor(bucket_s / 86400) AS BIGINT) * 86400
         |) AS u ORDER BY resolution, name, user_id, bucket_s""".stripMargin.replace("\n", " ")
    },
    "ds_policy_stack" -> {
      val f10 =
        """SELECT event_type AS name, user_id,
          | CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 AS bucket_s,
          | sum(value) AS sum_v, count(*) AS count_v,
          | min(value) AS min_v, max(value) AS max_v
          | FROM events GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")
      val f1h =
        s"""SELECT name, user_id,
           | CAST(floor(bucket_s / 3600) AS BIGINT) * 3600 AS bucket_s,
           | sum(sum_v) AS sum_v, CAST(sum(count_v) AS BIGINT) AS count_v,
           | min(min_v) AS min_v, max(max_v) AS max_v
           | FROM ($f10) AS f10 GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")
      val f1d =
        s"""SELECT name, user_id,
           | CAST(floor(bucket_s / 86400) AS BIGINT) * 86400 AS bucket_s,
           | sum(sum_v) AS sum_v, CAST(sum(count_v) AS BIGINT) AS count_v,
           | min(min_v) AS min_v, max(max_v) AS max_v
           | FROM ($f1h) AS f1h GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")
      def tier(src: String, res: String, retD: Long) =
        s"""SELECT name, user_id, '$res' AS resolution, bucket_s,
           | round(sum_v, 6) AS sum_v, count_v, min_v, max_v,
           | round(sum_v / count_v, 6) AS mean_v
           | FROM ($src) AS t
           | WHERE bucket_s >= 1706745600 - $retD * 86400""".stripMargin.replace("\n", " ")
      s"""SELECT * FROM (
         | ${tier(f10, "10m", 14)}
         | UNION ALL ${tier(f1h, "1h", 30)}
         | UNION ALL ${tier(f1d, "1d", 365)}
         |) AS u ORDER BY resolution, name, user_id, bucket_s""".stripMargin.replace("\n", " ")
    },
    "ds_auto_res" -> {
      // the resolved 1h:30d tier, composed 10m→1h exactly like the
      // engine's policy stack, retention-floored and range-bounded
      val f10 =
        """SELECT event_type AS name, user_id,
          | CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 AS bucket_s,
          | sum(value) AS sum_v, count(*) AS count_v,
          | min(value) AS min_v, max(value) AS max_v
          | FROM events GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")
      val f1h =
        s"""SELECT name, user_id,
           | CAST(floor(bucket_s / 3600) AS BIGINT) * 3600 AS bucket_s,
           | sum(sum_v) AS sum_v, CAST(sum(count_v) AS BIGINT) AS count_v,
           | min(min_v) AS min_v, max(max_v) AS max_v
           | FROM ($f10) AS f10 GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")
      s"""SELECT name, user_id, '1h' AS resolution, bucket_s,
         | round(sum_v, 6) AS sum_v, count_v, min_v, max_v,
         | round(sum_v / count_v, 6) AS mean_v
         | FROM ($f1h) AS t
         | WHERE bucket_s >= 1706745600 - 30 * 86400
         |  AND bucket_s >= 1704931200 AND bucket_s < 1706745600
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " ")
    },
    "ds_auto_res_raw" ->
      s"""SELECT name, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         | value, event_id
         | FROM ($S) AS s
         | WHERE epoch(ts) >= 1706486400 AND epoch(ts) < 1706745600
         | ORDER BY event_id""".stripMargin.replace("\n", " "),
    "ds_restrict_types" -> {
      val raw =
        """SELECT event_type AS name, user_id, 'raw' AS resolution,
          | CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
          | round(value, 6) AS value FROM events""".stripMargin.replace("\n", " ")
      val fine =
        """SELECT name, user_id, bucket_s, sum(value) AS sum_v,
          | count(*) AS count_v
          | FROM (SELECT event_type AS name, user_id, value,
          |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s
          |  FROM events) AS s
          | GROUP BY name, user_id, bucket_s""".stripMargin.replace("\n", " ")
      val tier =
        s"""SELECT * FROM (
           | SELECT name, user_id, '1d' AS resolution,
           |  CAST(floor(bucket_s / 86400) AS BIGINT) * 86400 AS ts_s,
           |  round(sum(sum_v) / sum(count_v), 6) AS value
           |  FROM ($fine) AS f
           |  GROUP BY name, user_id, CAST(floor(bucket_s / 86400) AS BIGINT) * 86400
           |) AS d WHERE ts_s >= 1706745600 - 21 * 86400""".stripMargin.replace("\n", " ")
      s"""SELECT * FROM (($raw) UNION ALL ($tier)) AS u
         | ORDER BY resolution, name, user_id, ts_s, value""".stripMargin.replace("\n", " ")
    },
    "ds_fanout" -> {
      // stitched fanout: the 1h tier (composed 10m→1h like the
      // engine) serves buckets in [start, availUntil), the raw
      // namespace serves [availUntil, now); availUntil = now − 2d
      // lands on a bucket edge so the branches are time-disjoint
      val f10 =
        """SELECT event_type AS name, user_id,
          | CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 AS bucket_s,
          | sum(value) AS sum_v, count(*) AS count_v
          | FROM events GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")
      val agg =
        s"""SELECT name, user_id,
           | CAST(floor(bucket_s / 3600) AS BIGINT) * 3600 AS ts_s,
           | round(sum(sum_v) / sum(count_v), 6) AS value
           | FROM ($f10) AS f10
           | GROUP BY 1, 2, CAST(floor(bucket_s / 3600) AS BIGINT) * 3600
           | HAVING CAST(floor(bucket_s / 3600) AS BIGINT) * 3600
           |   >= 1706745600 - 30 * 86400
           |  AND CAST(floor(bucket_s / 3600) AS BIGINT) * 3600 >= 1704931200
           |  AND CAST(floor(bucket_s / 3600) AS BIGINT) * 3600 < 1706572800""".stripMargin.replace("\n", " ")
      val raw =
        """SELECT event_type AS name, user_id,
          | CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
          | round(value, 6) AS value
          | FROM events
          | WHERE epoch(ts) >= 1706572800 AND epoch(ts) < 1706745600""".stripMargin.replace("\n", " ")
      s"""SELECT * FROM (($agg) UNION ALL ($raw)) AS u
         | ORDER BY name, user_id, ts_s, value""".stripMargin.replace("\n", " ")
    },
    "ds_auto_series" -> {
      val f10 =
        """SELECT event_type AS name, user_id,
          | CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 AS bucket_s,
          | sum(value) AS sum_v, count(*) AS count_v
          | FROM events GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")
      s"""SELECT name, user_id,
         | CAST(floor(bucket_s / 3600) AS BIGINT) * 3600 AS ts_s,
         | round(sum(sum_v) / sum(count_v), 6) AS value
         | FROM ($f10) AS f10
         | GROUP BY 1, 2, CAST(floor(bucket_s / 3600) AS BIGINT) * 3600
         | HAVING CAST(floor(bucket_s / 3600) AS BIGINT) * 3600 >= 1704931200
         |  AND CAST(floor(bucket_s / 3600) AS BIGINT) * 3600 < 1706745600
         | ORDER BY name, user_id, ts_s""".stripMargin.replace("\n", " ")
    },
    "ds_restrict_type" -> {
      val fine =
        """SELECT name, user_id, bucket_s, sum(value) AS sum_v, count(*) AS count_v,
          | min(value) AS min_v, max(value) AS max_v
          | FROM (SELECT event_type AS name, user_id, value,
          |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s FROM events) AS s
          | GROUP BY name, user_id, bucket_s""".stripMargin.replace("\n", " ")
      s"""SELECT * FROM (
         | SELECT name, user_id, '1d' AS resolution,
         |  CAST(floor(bucket_s / 86400) AS BIGINT) * 86400 AS bucket_s,
         |  round(sum(sum_v), 6) AS sum_v, CAST(sum(count_v) AS BIGINT) AS count_v,
         |  min(min_v) AS min_v, max(max_v) AS max_v,
         |  round(sum(sum_v) / sum(count_v), 6) AS mean_v
         |  FROM ($fine) AS f
         |  GROUP BY name, user_id, CAST(floor(bucket_s / 86400) AS BIGINT) * 86400
         |) AS d WHERE bucket_s >= 1706745600 - 21 * 86400
         | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " ")
    },
    "ts_influx" ->
      """SELECT event_type || '_value' AS name, user_id,
        | CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
        | round(avg(value), 6) AS value
        | FROM events GROUP BY 1, 2, 3
        | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_exposition" ->
      """SELECT event_type AS name, user_id,
        | CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
        | round(avg(value), 6) AS value
        | FROM events GROUP BY 1, 2, 3
        | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_json_write" ->
      """SELECT event_type AS name, user_id,
        | CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
        | round(avg(value), 6) AS value
        | FROM events WHERE value <> 0
        | GROUP BY 1, 2, 3
        | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " "),
    "ts_prom_write" ->
      """SELECT event_type AS name, user_id, 'east' AS dc,
        | CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
        | round(avg(value), 6) AS value
        | FROM events GROUP BY 1, 2, 3, 4
        | ORDER BY name, user_id, bucket_s""".stripMargin.replace("\n", " ")
  ))

  /** Oracle entries that are verbatim copies of another query's SQL —
    * store_pql runs the same PromQL text over the bucketed store, so
    * byte-identical results mean the physical layout changes nothing
    * but the plan. */
  private def withSharedOracles(m: Map[String, String]): Map[String, String] =
    m + ("store_pql" -> m("pql_rate_sum"),
      "store_pql_range" -> m("pql_range"),
      "store_fanout" -> m("ds_fanout"),
      "store_scrape" -> m("ts_exposition"))
}
