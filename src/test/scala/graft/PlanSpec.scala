package graft

/** Plan audits: the optimizations SURVEY §4 promises must be visible
  * in the physical plan — pushed filters, pruned schemas, broadcast
  * joins. These guard against regressions that correctness checks
  * can't see. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q1_agg prunes to the 7 needed columns") {
    val p = plan("q1_agg")
    assert(!p.contains("l_orderkey"), "scan reads unneeded key column")
  }

  test("q5_star broadcasts the dimension tables") {
    val p = plan("q5_star")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("ts_agg_by stays whole-stage codegen through the aggregation") {
    // AQE: codegen spans only appear in the finalized plan, so
    // execute first
    val df = SparkEntry.queries("ts_agg_by")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen stages in plan dumps
    assert(p.contains("*("), p.take(2000))
    assert(!p.contains("SortAggregate"),
      "consolidation should hash-aggregate, not sort: " + p.take(2000))
  }

  test("ts_fetch_eq pushes the name matcher into the parquet scan") {
    val p = plan("ts_fetch_eq")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("EqualTo(event_type,purchase)"), pushed)
  }

  test("ts_fetch_regex pushes the NEQ matcher and stays shuffle-free") {
    val p = plan("ts_fetch_regex")
    assert(p.contains("Not(EqualTo(user_id,7))"), p)
    assert(!p.contains("Exchange hashpartitioning"), "matcher filter should not shuffle")
  }

  test("dedup_minhash candidate join is an equi-join, not a cartesian") {
    val p = plan("dedup_minhash")
    assert(!p.contains("CartesianProduct"), "LSH join degenerated to all-pairs")
  }

  test("dedup_embed_lsh candidate join is an equi-join, not a cartesian") {
    val p = plan("dedup_embed_lsh")
    assert(!p.contains("CartesianProduct"), "LSH near-dup degenerated to all-pairs")
  }

  test("graphite per-series window ops shuffle at most twice") {
    // one exchange for the hourly consolidation (series, bucket key),
    // one for the per-path window — and nothing more
    val p = plan("gr_per_second")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"expected consolidation + window exchanges, got $exchanges")
  }

  test("corpus_decontam never degenerates to a cartesian product") {
    val p = plan("corpus_decontam")
    assert(!p.contains("CartesianProduct"), "decontamination join degenerated")
  }

  test("ts_asof is Expand + single hash aggregation (no join)") {
    val p = plan("ts_asof")
    assert(p.contains("Expand"), "sliding windows should Expand")
    assert(!p.contains("Join"), "as-of must not join:\n" + p.take(1500))
  }

  test("text analysis is a single map stage (no exchange)") {
    val p = plan("text_quality")
    assert(!p.contains("Exchange hashpartitioning"),
      "per-document op should not shuffle")
  }

  test("store_rollup aggregates the bucketed table with zero hash exchanges") {
    // end-to-end on the real sf data: the SeriesStore scan's bucket
    // distribution on (name, user_id) must satisfy the rollup's
    // groupBy (name, user_id, bucket_s) — subset rule — so the only
    // exchange left is the output orderBy's range partitioning
    val df = SparkEntry.queries("store_rollup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed scan should feed the rollup shuffle-free:\n" + p.take(2000))
  }

  test("store_fetch prunes partitions AND pushes the residual ts range") {
    val df = SparkEntry.queries("store_fetch")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("dt"), s"dt bounds not pruning partitions: $pf")
    assert(p.contains("PushedFilters: [IsNotNull(name), EqualTo(name,purchase)") ||
      p.contains("EqualTo(name,purchase)"), p.take(2000))
    // the ts range must reach the scan (row-group stats pruning needs it)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("ts")), p.take(2000))
  }

  test("store_pql: the rate window reads its distribution from the buckets") {
    // PromQL text over the bucketed store: the per-series lag/rate
    // stage must NOT shuffle (bucket distribution satisfies the
    // window's partitioning); the only hash exchange left is the
    // final sum by (name, bucket_s)
    val df = SparkEntry.queries("store_pql")(spark, sf)
    df.collect()
    // an executed AdaptiveSparkPlan prints final AND initial plans —
    // count exchanges in the final section only
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==").head
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    assert(exchanges.size <= 1,
      s"expected at most the final-agg exchange, got:\n${exchanges.mkString("\n")}")
    assert(exchanges.forall(!_.contains("user_id")),
      "per-series stage shuffled despite the bucketed layout:\n" +
        exchanges.mkString("\n"))
  }

  test("pql sliding rate is Expand-based, no step-alignment join") {
    val p = plan("pql_rate_sliding")
    assert(p.contains("Expand"), "sliding windows should Expand")
    assert(!p.contains("Join"), "sliding rate must not join:\n" + p.take(1500))
    // one shuffle for the per-series lag window; the window agg reuses
    // that (name, user_id) distribution — subset rule
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected ≤2 hash exchanges, got $exchanges")
  }

  test("graphite holt-winters folds per series in bounded shuffles") {
    // consolidation groupBy + collect_list groupBy(path); the fold
    // itself is a projection — no joins, no extra exchanges
    val p = plan("gq_hw")
    assert(!p.contains("Join"), "HW fold must not join:\n" + p.take(1500))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected ≤2 hash exchanges, got $exchanges")
  }

  test("pq encode scans the embedding corpus once, not m times") {
    // subvecs is posexplode over an in-row array of m slices — the
    // old m-way union produced m full scans of the embedding column.
    // The whole sim_pq_ann plan may read the table at most twice:
    // corpus encode + query distance table.
    val scans = plan("sim_pq_ann").linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("embeddings"))
    assert(scans <= 2, s"expected ≤2 embeddings scans, got $scans")
  }

  test("dup-cluster label join follows the broadcast threshold (not forced)") {
    // The final labels→corpus join must be a plain equi-join whose
    // strategy AQE picks by size: labels is O(docs-in-any-dup-pair),
    // which at 100 TB dwarfs any broadcast budget. A forced
    // broadcast() hint would override autoBroadcastJoinThreshold=-1 —
    // so with the threshold disabled the join must sort-merge.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      // the cluster-label result is cached across operators with its
      // plan compiled at first use — drop it so this query re-plans
      // under the threshold override (and again after, so later tests
      // re-plan under the default conf)
      pipeline.Corpus.clearClusterCache()
      val df = SparkEntry.queries("corpus_clusters")(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        "label join is forced-broadcast (OOM at scale):\n" + p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "expected a shuffle join under threshold=-1:\n" + p.take(2000))
    } finally {
      spark.conf.set(key, old)
      pipeline.Corpus.clearClusterCache()
    }
  }

  test("tag-search surfaces shuffle only tag cardinality") {
    // completeTags / seriesMatch / metricsFind: the heavy side is a
    // pushed-down scan + per-row unpivot; the single exchange is the
    // distinct, whose partial aggregation runs map-side. No joins,
    // no windows, ≤2 hash exchanges (partial→final, plus AQE reads).
    for (q <- Seq("ts_complete_tags", "ts_label_values",
        "ts_series_match", "gq_find")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n" + p.take(1500))
      assert(!p.contains("windowspecdefinition"),
        s"$q grew a window:\n" + p.take(1500))
    }
  }

  test("ds_restrict_type folds the non-matching tier branch away") {
    // The literal resolution filter must prune the multi-res union
    // to ONE branch at plan time: a single events scan, and no trace
    // of the 1h tier's day-bucket re-aggregation running twice.
    val scans = plan("ds_restrict_type").linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("events"))
    assert(scans == 1, s"expected 1 events scan, got $scans")
  }

  test("store_graphite: consolidation reads its distribution from the buckets") {
    // graphite text over the bucketed store: the last-per-hour
    // consolidation window partitions by (name, user_id), which the
    // bucket layout already satisfies — the only hash exchange left
    // is the path-level summarize aggregation
    val df = SparkEntry.queries("store_graphite")(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==").head
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    assert(exchanges.size <= 1,
      s"expected at most the summarize exchange, got:\n${exchanges.mkString("\n")}")
    assert(exchanges.forall(!_.contains("user_id")),
      "consolidation shuffled despite the bucketed layout:\n" +
        exchanges.mkString("\n"))
  }

  test("ds_auto_res routes to ONE tier branch (no namespace union)") {
    // tier choice is plan-time scalar math: the routed plan must
    // carry a single events scan (the resolved 1h tier composed from
    // the cached 10m partials — one raw read), never a runtime union
    // of candidate namespaces
    tsdb.Downsample.clearTierCache()
    val p = plan("ds_auto_res")
    val scans = p.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("events"))
    assert(scans == 1, s"expected 1 events scan, got $scans:\n" + p.take(2000))
    assert(!p.contains("Union"), "auto resolution unioned namespaces")
    tsdb.Downsample.clearTierCache()
  }

  test("ds_fanout stitches exactly two pruned branches") {
    // the fanout union must carry exactly TWO events scans — the
    // rolled-up branch (one raw read via the cached 10m partials) and
    // the raw-recent branch — each time-bounded; never a third scan
    // or an unbounded raw read
    tsdb.Downsample.clearTierCache()
    val p = plan("ds_fanout")
    val scans = p.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("events"))
    assert(scans == 2, s"expected 2 pruned events scans, got $scans:\n" + p.take(2000))
    assert(p.contains("Union"), "fanout should union the two namespaces")
    // the raw branch is bounded to [availUntil, now) — the filter
    // must appear above its scan (1706572800 = Jan 30 00:00 boundary)
    assert(p.contains("2024-01-30") || p.contains("1706572800"),
      "raw branch not narrowed to the stitch boundary:\n" + p.take(3000))
    tsdb.Downsample.clearTierCache()
  }

  test("corpus_curriculum windows only on shard keys, never the corpus") {
    // the rank is two-phase: every windowspecdefinition partitions by
    // a shard column; the only unpartitioned window is the 32-row
    // prefix-offset frame (identified by its _rshard order key)
    val analyzed = SparkEntry.queries("corpus_curriculum")(spark, sf)
      .queryExecution.analyzed.toString
    val winLines = analyzed.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty)
    winLines.foreach { l =>
      assert(l.contains("_rshard") || l.contains("stage"),
        s"window not shard-partitioned: $l")
    }
  }

  test("corpus_select windows only on shard keys, never the corpus") {
    // same two-phase contract as curriculum: every corpus-sized
    // window partitions by _rshard; the only unpartitioned window is
    // the ≤32-row prefix-offset frame (ordered by _rshard)
    val analyzed = SparkEntry.queries("corpus_select")(spark, sf)
      .queryExecution.analyzed.toString
    val winLines = analyzed.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty)
    winLines.foreach { l =>
      assert(l.contains("_rshard"), s"window not shard-partitioned: $l")
    }
  }

  test("ds_policy_stack: composed tiers share cached partials") {
    // 10m|1h and 1h|1d, so the 1h and 1d tiers must compose from
    // the finer tier's partials, not rescan raw events. Catalyst
    // pushes each tier's retention filter into its own copy of the
    // subtree, so sharing has to come from the tier cache: every
    // branch reads an InMemoryTableScan, and exactly the two
    // composition-source tiers (10m, 1h) are persisted.
    tsdb.Downsample.clearTierCache()
    val p = plan("ds_policy_stack")
    assert(p.contains("InMemoryTableScan"),
      "tiers not cache-shared:\n" + p.take(2000))
    assert(tsdb.Downsample.cachedTierCount == 2)
    // the raw scan carries the now − max(retention) floor: buckets
    // older than every tier's retention never leave the parquet scan
    assert(p.contains(">= 2023-02-01 00:00:00"),
      "missing the max-retention floor on the raw scan")
    tsdb.Downsample.clearTierCache()
  }

  test("span dedup windows by span hash, never cartesian") {
    val p = plan("dedup_spans")
    assert(!p.contains("CartesianProduct"), "span dedup joined all-pairs")
    // the first-occurrence rank must partition by the span hash —
    // an unpartitioned window would funnel the corpus through one task
    val win = p.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(win.contains("smd5"), s"rank not partitioned by span hash: $win")
  }

  test("centroid classifier broadcasts the per-label centroid frame") {
    val p = plan("sim_centroid_label")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroids should broadcast into scoring:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"),
      "scoring must not be a cartesian product")
  }

  test("kmeans assignment broadcasts the centroid frame") {
    val df = SparkEntry.queries("sim_kmeans")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // centroids arrive via broadcast (k rows against the corpus scan);
    // a shuffled join here would exchange the whole corpus per round
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), "assignment degenerated to cartesian")
  }

  test("mixture sampling broadcasts the per-source totals") {
    val p = plan("corpus_mixture")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("vocabulary top-N is TakeOrdered, not a global sort or window") {
    for (q <- Seq("corpus_vocab", "corpus_bpe")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q: " + p.take(2000))
    }
  }

  test("q21 decorrelates to equi-joins: no cartesian, top-N as TakeOrdered") {
    val p = plan("q21_waiting")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "correlated EXISTS must decorrelate to equi-joins:\n" + p.take(2000))
    assert(p.contains("TakeOrderedAndProject"),
      "final top-100 should plan as TakeOrdered:\n" + p.take(2000))
  }

  test("q6 pushes every predicate to the scan and joins nothing") {
    // the PushedFilters list exceeds the default 100-char metadata
    // elision, so widen it for this dump
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val p = try plan("q6_forecast")
      finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate") &&
      pushed.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      pushed.contains("LessThanOrEqual(l_discount,0.07)") &&
      pushed.contains("LessThan(l_quantity,24.0)"), pushed)
    assert(!p.contains("Join"), "Q6 is a pure scan-agg:\n" + p.take(2000))
  }

  test("q4 EXISTS plans as one left-semi join carrying the date conjunct") {
    val p = plan("q4_priority")
    assert(p.contains("LeftSemi"), "EXISTS must be a semi join:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "non-equi conjunct degenerated the join:\n" + p.take(2000))
  }

  test("q10 top-20 plans as TakeOrdered, nation broadcasts") {
    val p = plan("q10_returns")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-20 should be per-partition heaps:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q22 threshold is a broadcast, no-large-orders is an anti join") {
    val p = plan("q22_idle")
    assert(p.contains("LeftAnti"), "NOT EXISTS must be an anti join:\n" + p.take(2000))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("GreaterThan(o_totalprice,400000"),
      "anti-join build side must pre-filter at the scan:\n" + pushed)
  }

  test("q19 extracts the equi-key from the disjunction: hash join, no nested loop") {
    val p = plan("q19_disjunct")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "OR-of-ANDs must still join on the extracted p_partkey key:\n" + p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "disjunctive predicate degenerated the join:\n" + p.take(2000))
  }

  test("semantic near-dup joins within clusters only (equi-join on cluster)") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"),
      "SemDeDup pair join degenerated to all-pairs")
  }

  test("bm25 and c4 stay map-side: no per-doc shuffle, tiny stats broadcast") {
    // bm25: per-term tf/dl compute from the word array in one map
    // stage; the only aggregation is the one-row corpus stats frame
    // (SinglePartition exchange), broadcast back — never a hash
    // shuffle of the corpus, never an explode-join on words.
    val p = plan("text_bm25")
    assert(!p.contains("Exchange hashpartitioning"),
      "bm25 must not shuffle the corpus:\n" + p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "corpus stats should broadcast:\n" + p.take(2000))
    // c4 is a pure map stage
    assert(!plan("text_c4").contains("Exchange hashpartitioning"),
      "c4 filters must not shuffle")
  }

  test("LM scoring joins on word/bigram keys, never cartesian") {
    for (q <- Seq("text_perplexity", "text_bigram")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q degenerated to all-pairs:\n" + p.take(2000))
      // bigram formation is map-side (Generate explode over an in-row
      // array) — no per-doc window, no position self-join
      assert(!p.contains("windowspecdefinition"),
        s"$q should not window:\n" + p.take(2000))
    }
  }

  test("bigram formation indexes a projected array, not re-split text") {
    // the O(n²) trap: element_at(split(text), i) inside the transform
    // lambda re-splits the document per element. The word array must
    // be projected once, so no Generate node may contain a split()
    // call inside element_at.
    val offenders = plan("text_bigram").linesIterator
      .filter(_.contains("Generate"))
      .filter(_.contains("element_at(split("))
      .toList
    assert(offenders.isEmpty,
      "bigram explode re-splits the text per element:\n" +
        offenders.mkString("\n"))
  }

  test("dsir broadcasts the bounded log-ratio table") {
    // the lr frame is ≤ buckets (64) rows by construction — the join
    // back onto the word stream must be a broadcast hash join
    val p = plan("corpus_dsir")
    assert(p.contains("BroadcastHashJoin"),
      "lr join should broadcast:\n" + p.take(2000))
  }

  test("graphite series ranks never window over the full frame") {
    // Two-phase rank: the only Window nodes allowed are the
    // shard-local row_number (partitioned by _shard) and the
    // ≤shards-row prefix-offset window (ordered by _shard over an
    // aggregation). A rank windowing the raw series frame — the old
    // `row_number over orderBy(mx desc)` straggler — has no _shard.
    for (q <- Seq("gr_sort_total", "gr_highest")) {
      val offenders = plan(q).linesIterator
        .filter(_.contains("windowspecdefinition"))
        .filterNot(_.contains("_shard")).toList
      assert(offenders.isEmpty,
        s"$q windows outside the two-phase shard scheme:\n" +
          offenders.mkString("\n"))
    }
  }

  test("repetition signals: projected-array ngrams, doc-keyed shuffles only") {
    val p = plan("text_repetition")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // same O(n²) guard as text_bigram: the explode must index a
    // projected word array, never re-split the text per element
    val offenders = p.linesIterator.filter(_.contains("Generate"))
      .filter(_.contains("element_at(split(")).toList
    assert(offenders.isEmpty,
      "ngram explode re-splits the text per element:\n" +
        offenders.mkString("\n"))
  }

  test("sequence packing windows by shard, never unpartitioned") {
    val offenders = plan("corpus_pack").linesIterator
      .filter(_.contains("windowspecdefinition"))
      .filterNot(_.contains("shard")).toList
    assert(offenders.isEmpty,
      "packing window not sharded (would funnel the corpus through " +
        "one task):\n" + offenders.mkString("\n"))
  }

  test("incremental dedup probes history by hash equi-join, no cartesian") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("embedding decontam candidates come from the bucket equi-join") {
    val p = plan("corpus_decontam_embed")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("canonical pick windows within dup clusters only") {
    val offenders = plan("corpus_canonical").linesIterator
      .filter(_.contains("windowspecdefinition"))
      .filterNot(_.contains("cluster_id")).toList
    assert(offenders.isEmpty,
      "canonical rank must partition by cluster_id:\n" +
        offenders.mkString("\n"))
  }

  test("bloom probe joins the fixed-size bitmap broadcast, no cartesian") {
    val p = plan("dedup_bloom")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the word-idx probe must be the broadcast side (≤ mBits/32 rows)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("text normalize is a single map stage — no exchange") {
    val p = plan("text_normalize")
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("subquery reads the samples once — no re-fetch, no alignment join") {
    for (q <- Seq("pql_subquery", "pql_subquery_q")) {
      val p = plan(q)
      val scans = p.linesIterator.count(_.contains("Scan parquet"))
      assert(scans == 1,
        s"$q should scan events exactly once, got $scans:\n" + p.take(2000))
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$q outer must be a window, not a join:\n" + p.take(2000))
    }
  }

  test("series limit is a distributed top-N, not a global sort/window") {
    val p = plan("ts_fetch_limit")
    assert(p.contains("TakeOrderedAndProject"),
      "kept-series selection should plan as TakeOrdered:\n" + p.take(2000))
    assert(!p.contains("windowspecdefinition"),
      "series limit must not use an unpartitioned window:\n" + p.take(2000))
  }

  test("training shuffle windows per shard — no global sort of the corpus") {
    val offenders = plan("corpus_shuffle").linesIterator
      .filter(_.contains("windowspecdefinition"))
      .filterNot(_.contains("shard")).toList
    assert(offenders.isEmpty,
      "shuffle position must partition by shard:\n" + offenders.mkString("\n"))
  }

  test("datapoints limit windows per shard, never the full series frame") {
    val offenders = plan("ts_fetch_dp_limit").linesIterator
      .filter(_.contains("windowspecdefinition"))
      .filterNot(l => l.contains("_shard") || l.contains("_tot")).toList
    assert(offenders.isEmpty,
      "prefix sum must shard-partition (or run on the tiny offsets " +
        "frame):\n" + offenders.mkString("\n"))
  }

  test("sessionize shuffles on user_id only; sessions merge sort-locally") {
    val p = plan("q_sessionize")
    // one hash exchange for the session aggregation (plus the final
    // presentation sort's range exchange) — never a cartesian or a
    // per-session reshuffle
    val hashEx = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("ingest roundtrips parse map-side: one hash exchange each") {
    for (q <- Seq("ts_influx", "ts_json_write")) {
      val p = plan(q)
      // the pinned-count fan-out (REPARTITION_BY_NUM) is the line
      // rebalance, not a consolidation shuffle — count it separately
      val hashEx = p.linesIterator
        .count(l => l.contains("Exchange hashpartitioning") &&
          !l.contains("REPARTITION_BY_NUM"))
      assert(hashEx == 1,
        s"$q: parsing must be a pure map stage feeding ONE " +
          s"consolidation shuffle, got $hashEx exchanges:\n" + p.take(2000))
      // the rendered lines fan out through a pinned-count KEYED
      // exchange before the parse chain — the events scan is 1-2
      // splits at this SF and would otherwise run the whole parser
      // on 1-2 cores (Tables.fan: hash-keyed, not round-robin, so no
      // sortBeforeRepartition pass; REPARTITION_BY_NUM so AQE cannot
      // coalesce it; skipped entirely when the scan is already wide)
      assert(p.contains("REPARTITION_BY_NUM"),
        s"$q: expected the pinned-count line fan-out:\n" + p.take(2000))
    }
  }

  test("Tables.fan: exchanges narrow inputs, passes wide ones through") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val n = s.sessionState.conf.numShufflePartitions
    // narrow input (1 partition) → pinned-count keyed exchange
    val narrow = (1L to 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .coalesce(1)
    val fanned = Tables.fan(narrow, col("doc_id"))
    assert(fanned.rdd.getNumPartitions == n,
      s"expected $n partitions, got ${fanned.rdd.getNumPartitions}")
    val p = fanned.queryExecution.executedPlan.toString
    assert(p.contains("REPARTITION_BY_NUM"),
      "fan must pin the count (AQE-coalescable otherwise):\n" + p.take(1200))
    assert(!p.contains("RoundRobinPartitioning"),
      "fan must hash the key, not round-robin (sortBeforeRepartition):\n" +
        p.take(1200))
    // wide input (≥ n partitions) → untouched, no exchange; the
    // user repartition's REPARTITION_BY_NUM count is statically
    // knowable (AQE-exempt), so no execution is needed to skip
    val wide = (1L to 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .repartition(n + 1)
    val skipped = Tables.fan(wide, col("doc_id"))
    assert(skipped.rdd.getNumPartitions == n + 1,
      "fan must pass an already-wide input through unchanged")
  }

  test("Tables.fan probes width statically — no job on the build path") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val s = spark
    import s.implicits._
    // an input with a shuffle in its lineage: the old .rdd probe
    // would EXECUTE that aggregation as a throwaway job under AQE;
    // the static probe must submit nothing
    // doc_id is COMPUTED, not an alias of the grouping key — a key
    // that aliased `k` would let EnsureRequirements elide the fan
    // exchange as redundant (child already hash-partitioned on it)
    val aggregated = (1L to 1000L).map(i => (i % 7, i)).toDF("k", "v")
      .groupBy("k").agg(fsum("v").as("v"))
      .select((col("k") * 1000000L + col("v")).as("doc_id"),
        col("v").cast("string").as("text"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val fanned = Tables.fan(aggregated, col("doc_id"))
      // listener delivery is async — bound a short drain wait; a
      // submitted job's start event lands well inside it
      val deadline = System.nanoTime() + 3000000000L
      while (jobs.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(jobs.get() == 0,
        s"fan submitted ${jobs.get()} job(s) while building the plan")
      // post-exchange width is runtime-decided (AQE-coalescable) →
      // fan must pin the count so the heavy map work spreads
      val p = fanned.queryExecution.executedPlan.toString
      assert(p.contains("REPARTITION_BY_NUM"),
        "aggregated (width-unknown) input must be fanned:\n" + p.take(1200))
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("pql_range expands windows by index arithmetic — no grid join") {
    for (q <- Seq("pql_range", "pql_range_instant")) {
      val p = plan(q)
      // each series sweeps its own window pointers across the grid
      // and emits through one generator — the instant grid must
      // never join against samples
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: grid×samples join shape:\n" + p.take(2000))
      assert(p.contains("Generate inline"),
        s"$q: expected the sweep's generator:\n" + p.take(2000))
    }
  }

  test("range sweep over the bucketed store: no exchange below the kernel") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object H extends AdaptiveSparkPlanHelper
    val df = SparkEntry.queries("store_pql_range")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the per-series grouping reads its distribution from the
    // (name, user_id) buckets: nothing shuffles between the scan and
    // the sweep's aggregate
    val kernels = H.collect(plan) {
      case a: ObjectHashAggregateExec if a.aggregateExpressions
        .exists(_.aggregateFunction.isInstanceOf[CollectList]) => a
    }
    assert(kernels.nonEmpty, plan.toString.take(2000))
    for (k <- kernels)
      assert(H.collect(k) { case e: ShuffleExchangeExec => e }.isEmpty,
        "exchange below the sweep:\n" + k.toString.take(2000))
    // the only hash exchange is the `sum by (name)` one
    val hashed = H.collect(plan) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.startsWith("hashpartitioning") => e
    }
    assert(hashed.size == 1 && !hashed.head.outputPartitioning.toString
      .contains("user_id"), hashed.map(_.outputPartitioning).mkString("\n"))
  }

  test("metadata limits cap via TakeOrdered, not a global sort") {
    for (q <- Seq("ts_complete_tags_limit", "ts_series_match_limit",
        "ts_index_tags_limit")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: expected a distributed top-N:\n" + p.take(2000))
      // the one-row stats frame broadcasts onto the kept rows
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastExchange"),
        s"$q: stats must ride a broadcast:\n" + p.take(2000))
    }
  }

  test("sketch spectrum: one pinned fan, one partial-merge exchange") {
    // the registered query eagerly checkpoints its 7-row result, so
    // audit the walk+merge plan the batch form executes internally:
    // the batch fan + mapPartitions walk feed ONE groupBy merge of
    // sketch-sized partials — no char-volume census exchange, no
    // window, no sort of char rows (the exact form's scale killers)
    val docs = Tables.documents(spark, sf)
    val fanned = Tables.fan(
      docs.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")),
      org.apache.spark.sql.functions.col("doc_id"))
    val p = graft.streaming.StreamSpectrum.cells(fanned)
      .queryExecution.executedPlan.toString
    assert(p.contains("REPARTITION_BY_NUM"),
      "expected the pinned-count doc fan:\n" + p.take(2000))
    assert(!p.contains("WindowExec") && !p.contains("Sort "),
      "no window/sort may touch the partial rows:\n" + p.take(2000))
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") &&
        !l.contains("REPARTITION_BY_NUM"))
    assert(hashEx == 1,
      s"expected ONE partial-merge exchange, got $hashEx:\n" + p.take(2000))
  }

  test("q15 argmax broadcasts the one-row max — no rank window") {
    val p = plan("q15_top_supplier")
    assert(!p.contains("WindowExec"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("funnel shuffles on user_id only — no event arrays, no windows") {
    val p = plan("q_funnel")
    // every hash exchange must key on user_id (plus the final 3-row
    // step ordering); a window or collect_list over the raw stream
    // would be the skewed-user trap
    val exs = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toList
    assert(exs.forall(_.contains("user_id")), exs.mkString("\n"))
    assert(!p.contains("WindowExec") && !p.contains("collect_list"),
      p.take(2000))
  }

  test("q18 ranks with a bounded top-K, never a global sort") {
    val p = plan("q18_big_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // exactly one aggregation over lineitem (the HAVING frame is
    // reused as the semi filter — no re-aggregation after the join)
    val aggs = p.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("l_quantity"))
    assert(aggs <= 2, s"expected one partial+final agg pair, plan:\n" +
      p.take(2000)) // partial + final of the single groupBy
  }

  test("hard negatives filter labels BEFORE the rank window") {
    val df = SparkEntry.queries("sim_hard_neg")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // queries side broadcasts; the window partitions by q_id
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the label inequality must sit in the join/filter stage, not
    // after the window — a Filter node below Window referencing both
    // labels
    val winIdx = p.indexOf("Window")
    val filterIdx = p.indexOf("q_label")
    assert(filterIdx > winIdx && winIdx > 0,
      "label filter should appear below the window in the plan dump " +
        "(plans print top-down):\n" + p.take(3000))
  }

  test("chunker is map-side only — no exchange, words array projected") {
    val df = SparkEntry.queries("corpus_chunks")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val body = p.split("== Initial Plan ==").head
    assert(!body.contains("Exchange hashpartitioning"),
      "chunking must not shuffle:\n" + body.take(2000))
    // the split runs ONCE into _toks — not inlined into the slice
    // (the O(n²) re-split trap recorded in BASELINE.md)
    assert(body.linesIterator.count(_.contains("split(lower")) <= 1,
      "words array re-split per consumer:\n" + body.take(2000))
  }

  test("retention aggregates without a count-distinct Expand") {
    val p = plan("q_retention")
    // the (user, week) frame is distinct-ed BEFORE counting, so no
    // count(DISTINCT) Expand stage should appear
    assert(!p.contains("Expand"), p.take(2000))
  }

  test("embed stats: explode collapses map-side before the exchange") {
    // partial HashAggregate must sit below the dim-key exchange so
    // the shuffle carries ≤64 rows per task, never the exploded rows
    val p = plan("sim_embed_stats")
    val lines = p.linesIterator.toSeq
    val exchange = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val partial = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("partial"))
    assert(exchange >= 0 && partial > exchange,
      s"no partial aggregate under the exchange:\n$p")
  }

  test("threshold curve: candidate list is a materialized scan, not a re-expansion") {
    // the LSH pair subtree must appear as checkpointed RDD scans —
    // if it re-expanded per consumer the plan held 54 parquet scans
    val p = plan("dedup_threshold_curve")
    assert(p.contains("Scan ExistingRDD"), p)
    val parquetScans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(parquetScans <= 6, s"pair subtree re-expanded: $parquetScans scans")
  }

  test("nprobe curve: one corpus assignment serves every probe depth") {
    // cell assignment scans the embeddings parquet a bounded number
    // of times (corpus side + query side + exact ranking), not once
    // per probe depth
    val p = plan("sim_nprobe_curve")
    val parquetScans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(parquetScans <= 6, s"assignment re-ran per depth: $parquetScans scans")
  }

  test("ivfpq scoring joins codes, never a corpus cartesian") {
    val p = plan("sim_ivfpq_ann")
    assert(!p.contains("CartesianProduct"), s"cartesian in ivfpq:\n$p")
    // centroid/codebook/ADC sides broadcast into the joins
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("lshRecall cartesians only the bounded probe subset") {
    // the all-pairs product must be the probe ids (filtered scans),
    // never the corpus: every cartesian input subtree carries the
    // probe pushdown
    val p = plan("dedup_lsh_recall")
    val cartesians = p.linesIterator.count(_.contains("CartesianProduct"))
    assert(cartesians <= 1, s"$cartesians cartesians:\n$p")
  }

  test("index fetch broadcast is stats-gated, never blind") {
    val p = plan("ts_index_fetch")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // r9 verdict item 4, closed with the m3ninx discipline: the
    // postings stats the matcher planner collects bound |sids|
    // (intersection ⊆ smallest matched list), and the broadcast hint
    // applies ONLY under that plan-time proof. Over the ceiling —
    // the loose-matcher-at-scale case, simulated with limit=0 — the
    // series set stays hint-free for AQE to size at runtime.
    import graft.tsdb.{Fetch, Index}
    val samples = tsdb.Vectors.samples(Tables.events(spark, sf))
    val loose = Index.indexFetch(samples,
      Seq(Fetch.Matcher("name", Fetch.Re, ".+")), Seq("name", "user_id"),
      broadcastSeriesLimit = 0L)
    assert(loose.queryExecution.executedPlan.toString.contains("LeftSemi"))
    def sidsHint(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.analyzed.toString.linesIterator
        .filter(_.contains("ResolvedHint")).mkString("\n")
    assert(!sidsHint(loose).contains("_i_name"),
      "hint must not apply over the ceiling:\n" + sidsHint(loose))
    // under the ceiling, the proven-small series set IS hinted
    val bounded = Index.indexFetch(samples,
      Seq(Fetch.Matcher("name", Fetch.Eq, "purchase")),
      Seq("name", "user_id"))
    assert(sidsHint(bounded).nonEmpty,
      "proven-small series set should broadcast:\n" +
        bounded.queryExecution.analyzed.toString.take(2000))
  }

  test("store-backed index fetch prunes blocks AND semi-joins the scan") {
    // the persisted block-segment route: the segment scan must carry
    // the block bounds as PartitionFilters (planning-time pruning),
    // and the sample scan must be pruned by a LeftSemi on the
    // resolved series — byte-equal to the scan route by oracle
    val p = plan("store_index_fetch")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("PartitionFilters: [") &&
      p.replaceAll("(?s).*PartitionFilters: \\[", "").take(200)
        .contains("block"),
      "expected block bounds as partition filters:\n" + p.take(3000))
  }

  test("dedup_winnow pair join is hash-keyed, never cartesian") {
    val p = plan("dedup_winnow")
    assert(!p.contains("CartesianProduct"),
      "fingerprint pair join degenerated to all-pairs:\n" + p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "fingerprint pair join degenerated to nested loop:\n" + p.take(2000))
  }

  test("sim_rrf: posting join equi-keyed, corpus stats broadcast") {
    val p = plan("sim_rrf")
    assert(!p.contains("CartesianProduct"),
      "sparse posting join degenerated to all-pairs:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "one-row corpus stats should broadcast:\n" + p.take(2000))
  }

  test("corpus_hll registers hash-aggregate with map-side combine") {
    val p = plan("corpus_hll")
    // partial_max before the exchange = the register frame shrinks to
    // ≤ sources×256 rows per task before any shuffle
    assert(p.contains("partial_max"),
      "register build lost its map-side combine:\n" + p.take(3000))
    assert(!p.contains("SortAggregate"),
      "register build demoted to sort aggregation:\n" + p.take(2000))
  }

  test("q_rfm windows only on shard keys, never all users") {
    // three quintile ranks, each two-phase: every corpus-sized window
    // partitions by _rshard; the unpartitioned frames are the 32-row
    // prefix-offset windows (ordered by _rshard)
    val analyzed = SparkEntry.queries("q_rfm")(spark, sf)
      .queryExecution.analyzed.toString
    val winLines = analyzed.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty)
    winLines.foreach { l =>
      assert(l.contains("_rshard"), s"window not shard-partitioned: $l")
    }
  }

  test("q_gini windows only on shard keys, never all users") {
    val analyzed = SparkEntry.queries("q_gini")(spark, sf)
      .queryExecution.analyzed.toString
    val winLines = analyzed.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty)
    winLines.foreach { l =>
      assert(l.contains("_rshard"), s"window not shard-partitioned: $l")
    }
  }

  test("acf/xcorr/mad/stickiness are pure agg+join — zero windows") {
    // the whole point of these shapes: calendar-bucket self-joins and
    // map-side fan-outs instead of ordered windows or count-distinct
    // windows, so nothing needs a per-series global sort
    Seq("ts_acf", "ts_xcorr", "ts_mad", "q_stickiness",
        "ts_theil_sen", "ts_forecast_eval", "q_attribution").foreach { q =>
      val analyzed = SparkEntry.queries(q)(spark, sf)
        .queryExecution.analyzed.toString
      assert(!analyzed.contains("windowspecdefinition"),
        s"$q unexpectedly plans a window")
    }
  }

  test("cusum/stl/coverage windows partition by the series key") {
    Seq("ts_cusum", "ts_stl", "ts_coverage", "ts_strength").foreach { q =>
      val analyzed = SparkEntry.queries(q)(spark, sf)
        .queryExecution.analyzed.toString
      val winLines = analyzed.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(winLines.nonEmpty, s"$q has no windows?")
      winLines.foreach { l =>
        assert(l.contains("name"), s"$q window not series-keyed: $l")
      }
    }
  }

  test("mmr selection rounds window per query, pool frames broadcast-bounded") {
    // selection rounds materialize through localCheckpoint, so the
    // final plan is a union over checkpointed BOUNDED frames
    // (LogicalRDD scans) — the corpus-sized windows never reach the
    // final plan; any residual window must still be per-query
    val analyzed = SparkEntry.queries("sim_mmr")(spark, sf)
      .queryExecution.analyzed.toString
    val winLines = analyzed.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    winLines.foreach { l =>
      assert(l.contains("q_id"), s"mmr window not per-query: $l")
    }
    assert(analyzed.contains("LogicalRDD") || winLines.nonEmpty,
      "expected checkpointed selection rounds or per-query windows:\n" +
        analyzed.take(2000))
  }

  test("ts_motifs blocks on the word key — equi join, never cartesian") {
    val p = plan("ts_motifs")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Join [name") || p.contains("BroadcastHashJoin"),
      "expected an equi join on (name, word):\n" + p.take(2000))
    // the global rank only runs over the ≤10 orderBy·limit survivors
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("tsz value cost: one block-keyed mapGroups, no window, no cartesian") {
    val p = plan("ts_tsz_value_cost")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the r10 de-interpretation: the encoder census runs imperatively
    // (Tsz.valueCostStats) inside ONE (series, block) MapGroups — a
    // window here would mean the prefix-max shortcut crept back
    // (wrong once a float transition can reset curMax); a
    // collect_list + aggregate() fold would mean the interpreted
    // CodegenFallback form returned
    assert(!p.contains("windowspecdefinition"),
      "unexpected window stage:\n" + p.take(2000))
    assert(!p.contains("aggregate("), p.take(2000))
    assert(p.contains("MapGroups"), p.take(2000))
    // exactly one exchange below the final (name, user_id) agg pair:
    // the block-key shuffle feeding MapGroups
    val ex = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(ex <= 2, s"expected <=2 hash exchanges, got $ex:\n" + p.take(2500))
  }

  test("ts_interpolate emits shard coordinates — no global sort of the spine") {
    val p = plan("ts_interpolate")
    // the corpus-sized dense spine must never range-sort: hash
    // repartition + per-partition sort only (r8 verdict item 3)
    assert(!p.contains("rangepartitioning"),
      "global range sort over the spine:\n" + p.take(2000))
    assert(p.contains("hashpartitioning(shard"),
      "expected shard hash repartition:\n" + p.take(2000))
    assert(p.contains("Sort [shard"),
      "expected the shard-local sort:\n" + p.take(2000))
    assert(!p.contains("global=true"),
      "sort must be partition-local:\n" + p.take(2000))
    // r9 advice: the oracle replays the dump as exactly 32 hash
    // partitions concatenated in index order — pin the exchange's
    // PARTITION COUNT and that no later exchange sits above it
    // (executedPlan prints root-first, so the first Exchange line is
    // the topmost): drift fails here, not at the oracle gate
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.nonEmpty, p.take(2000))
    assert(exchanges.head.contains("hashpartitioning(shard") &&
      exchanges.head.contains(", 32)"),
      "topmost exchange must be hashpartitioning(shard, 32):\n" +
        exchanges.mkString("\n"))
  }

  test("interpolate dump order: md5 shard → murmur partition permutation") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    // the oracle's embedded CASE replays Spark's HashPartitioning
    // (pmod(Murmur3Hash(k, 42), 32)) — pin the actual partition ids
    val got = spark.range(0, 32).select(col("id").as("shard"))
      .repartition(32, col("shard"))
      .select(col("shard"), spark_partition_id().as("p"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = (0L until 32L).map { k =>
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(k, 42)
      k -> (((h % 32) + 32) % 32)
    }.toMap
    assert(got == want, s"permutation drifted: $got vs $want")
  }

  test("suffix chain never sorts or windows the char stream") {
    // the r10 rewrite: the doubling rounds run imperatively per doc
    // (the tsz-codec shape), so the plan must show NO sort and NO
    // window over the char frame — the only pre-aggregation exchange
    // is the pinned-count DOC repartition feeding the flatMap. (The
    // r9 window form — one sort + six stacked lead() windows — was
    // declarative-optimal but buffered every char row six times; a
    // per-round re-sort chain before that ran 1099 s at the 100x
    // probe.)
    val p = plan("dedup_suffix_repeats")
    val sorts = "Sort \\[doc_id".r.findAllIn(p).length
    assert(sorts == 0,
      s"expected NO (doc, pos) sort in the chain, got $sorts:\n" + p.take(2500))
    assert(!p.contains("Window [lead"),
      "expected no lead() windows over the char frame:\n" + p.take(2500))
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      "expected the imperative chain stage:\n" + p.take(2500))
    // the doc repartition is pinned-count (REPARTITION_BY_NUM) so AQE
    // cannot coalesce the 600x-work flatMap onto one core
    assert("Exchange hashpartitioning\\(doc_id#\\d+L?, \\d+\\), REPARTITION_BY_NUM"
      .r.findFirstIn(p).isDefined,
      "expected the pinned-count doc repartition:\n" + p.take(2500))
  }

  test("bounded index route prunes day-block partitions at planning time") {
    // the m3ninx block-segment contract: a time-bounded index query
    // opens ONLY overlapping segments — the block partition filter
    // must reach the file scan (PartitionFilters), not a post-scan
    // Filter over all partitions
    val p = plan("ts_index_tags_range")
    assert(p.contains("PartitionFilters: [") &&
      p.replaceAll("(?s).*PartitionFilters: \\[", "").take(200)
        .contains("block"),
      "expected the block bounds as partition filters:\n" + p.take(3000))
  }

  test("family caches persist DISK_ONLY — no session-long storage-memory squat") {
    // the r8 driver artifact's pass-2 dedup_winnow spike: every
    // corpus-sized family cache stayed MEMORY_AND_DISK-resident for
    // the whole suite, competing with later queries' execution
    // memory. The caches must land on local disk (page-cache-speed
    // re-reads, zero unified-memory footprint).
    import org.apache.spark.storage.StorageLevel
    pipeline.Dedup.clearShingleCache()
    val docs = Tables.documents(spark, sf)
    val sh = pipeline.Dedup.shingleHashes(docs)
    assert(sh.storageLevel == StorageLevel.DISK_ONLY, sh.storageLevel)
    val sig = pipeline.Dedup.minhashSignatureCached(docs)
    assert(sig.storageLevel == StorageLevel.DISK_ONLY, sig.storageLevel)
    val sim = pipeline.Dedup.simhash(docs)
    assert(sim.storageLevel == StorageLevel.DISK_ONLY, sim.storageLevel)
    pipeline.Dedup.clearShingleCache()
  }

  test("kn perplexity joins the model on (u, w) — no cartesian blowup") {
    val p = plan("corpus_kn_ppl")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the one-row global-stats frame rides a broadcast nested loop;
    // the occurrence⋈model join itself must be hash-keyed
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "expected a hash/sort-merge equi join for occ ⋈ model:\n" +
        p.take(2000))
  }

  test("cluster size stats reuse the shared label frame (InMemory scan)") {
    pipeline.Corpus.clearClusterCache()
    // prime the cache the way a pipeline run would: clusters first
    SparkEntry.queries("corpus_clusters")(spark, sf).collect()
    val p = plan("corpus_cluster_stats")
    assert(p.contains("InMemoryTableScan"),
      "cluster stats recomputed label propagation instead of reading " +
        "the shared cached frame:\n" + p.take(2000))
  }

  test("exact decontam joins the bench side ONLY as broadcasts") {
    // the training chain must stream map-side through the four
    // depth joins — a sort-merge join would shuffle corpus-character
    // rows un-reduced
    val p = plan("corpus_decontam_exact")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "train-side char rows crossed a shuffle join:\n" + p.take(2000))
  }

  test("lttb render walk shuffles once by series") {
    // mapGroups: ONE exchange partitioning by path feeds the walk;
    // the consolidated input's own window exchange is upstream of it
    val df = SparkEntry.queries("gq_render_lttb")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("MapGroups") || p.contains("mapGroups"), p.take(1500))
    // no join anywhere in the walk
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("proto and annotated stores decode without joins or windows") {
    // decode is flatMap over blob rows: scan → deserialize → agg
    Seq("store_proto", "store_tsz_ann").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
        s"$q decode path grew a join/window:\n" + p.take(2000))
    }
  }

  test("dd sketch: bucket frames broadcast, one scan beyond the checkpoint") {
    // the sketch itself materializes at the eager checkpoint (one
    // events scan); the composed card must join the bucket-cardinality
    // frames only as broadcasts, leaving the calibration rank scan as
    // the single remaining parquet read
    val p = plan("sketch_dd")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 in-plan scan, got $scans:\n" + p.take(1500))
  }

  test("soft dedup rides the shared cluster frame and joins on doc_id") {
    val p = plan("corpus_softdedup")
    // the cluster-label lineage is the family's cached frame
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      "cluster labels not served from the family cache:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("range-mode subquery: one scan, Generate expansion, no grid join") {
    // the outer window is the per-series sweep (its output is a
    // Generate of the kernel's rows), NOT a join against a grid
    // relation, and every aggregation stays map-side-combining
    val p = plan("pql_range_subquery")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("Generate inline"),
      "grid windows must be swept map-locally:\n" + p.take(2000))
    assert(!p.contains("SortAggregate"),
      "window reductions must hash-aggregate:\n" + p.take(2000))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 events scan, got $scans:\n" + p.take(1500))
  }

  test("range-mode temporal leaves expand map-locally too") {
    Seq("pql_range_irate", "pql_range_deriv", "pql_range_resets").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        p.contains("Generate inline"),
        s"$q lost the sweep shape:\n" + p.take(2000))
    }
  }
}
