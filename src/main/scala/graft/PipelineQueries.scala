package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._

/** LLM-training-data pipeline queries (SURVEY §2H) with DuckDB
  * oracles. The heavy SQL (minhash/simhash) is generated from the
  * same constants the Spark side uses, so both engines replay the
  * identical hash family.
  */
object PipelineQueries {

  // ---- shared oracle fragments ---------------------------------------
  /** The suffix hash-doubling CTE chain p0..p6 (mirrors
    * Dedup.suffixBase + 6 × Dedup.suffixRound): 60-bit md5 group ids
    * over every (doc, char position), depth 1→64. Shared by the
    * spectrum and repeats oracles. */
  private val SUFFIX_ROUNDS: String = {
    val rounds = Seq(1, 2, 4, 8, 16, 32).zipWithIndex
      .map { case (st, i) =>
        s"""p${i + 1} AS MATERIALIZED (SELECT doc_id, pos,
           | CAST('0x' || substr(md5(g::VARCHAR || ':' ||
           |  coalesce((lead(g, $st) OVER (
           |   PARTITION BY doc_id ORDER BY pos))::VARCHAR, 'END')),
           |  1, 15) AS BIGINT) AS g
           | FROM p$i)""".stripMargin.replace("\n", " ")
      }.mkString(", ")
    s"""p0 AS MATERIALIZED (SELECT doc_id, pos,
       |  CAST(ascii(substr(text, pos, 1)) AS BIGINT) AS g FROM (
       |  SELECT doc_id, text,
       |   unnest([i for i in range(1, len(text) + 1)]) AS pos
       |  FROM documents) z),
       | $rounds""".stripMargin.replace("\n", " ")
  }
  /** distinct word-3-gram shingles per doc (mirrors Dedup.shingles). */
  private val SH =
    """SELECT DISTINCT doc_id, shingle FROM (
      | SELECT doc_id, unnest([array_to_string(ws[i:i+2], ' ')
      |   for i in range(1, len(ws) - 1)]) AS shingle
      | FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
      |       FROM documents) AS t) AS u""".stripMargin.replace("\n", " ")
  /** md5-derived 32-bit shingle hash words (mirrors
    * Dedup.shingleHashes): h = low word, h_hi = high word. */
  private val H =
    s"""SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h,
       | CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) AS h_hi
       | FROM ($SH) AS sh""".stripMargin.replace("\n", " ")

  private val K = 16
  private val BANDS = 8
  private val ROWS = 2
  /** fixed query term set for the BM25 retrieval op (chosen from the
    * synthetic vocab so tf/df are non-degenerate). */
  private val BM25_TERMS = Seq("vector", "stream", "hash")
  /** minhash signature SQL — same affine family as minhashSignature. */
  private val SIG = {
    val cols = (0 until K).map { i =>
      s"min((${2 * i + 1} * h + ${7919 * (i + 1)}) % 4294967311) AS mh$i"
    }.mkString(", ")
    s"SELECT doc_id, $cols FROM ($H) AS h GROUP BY doc_id"
  }
  /** banded bucket SQL for LSH (mirrors minhashCandidates). */
  private val BANDED = (0 until BANDS).map { b =>
    val cs = (0 until ROWS).map(r => s"mh${b * ROWS + r}").mkString(", ")
    s"SELECT doc_id, $b AS band, md5(concat_ws(',', $cs)) AS bucket FROM sig"
  }.mkString(" UNION ALL ")
  private val MAX_BUCKET = 1000
  private val MIN_AGREE = 8

  /** Unrolled power-iteration oracle for sim_pca_power: covariance
    * from the 1-based unnested embedding table (rounded 6dp exactly
    * like the engine), then R chained (w_r, v_r) CTE pairs with the
    * engine's per-round 9dp normalization. */
  private val PCA_ROUNDS = 8
  private val PCA_CTES = {
    // chained CTEs referenced more than once MUST be MATERIALIZED:
    // DuckDB inlines plain CTEs, so 8 chained rounds would otherwise
    // re-evaluate the whole prefix exponentially
    val rounds = (1 to PCA_ROUNDS).map { r =>
      s"""w$r AS MATERIALIZED (SELECT c.i, sum(c.c * v.vj) AS w
         | FROM c JOIN v${r - 1} AS v ON v.j = c.j GROUP BY c.i),
         | v$r AS MATERIALIZED (SELECT i AS j,
         |  round(w / (SELECT sqrt(sum(w * w)) FROM w$r), 9) AS vj
         |  FROM w$r)""".stripMargin.replace("\n", " ")
    }.mkString(", ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       | js AS (SELECT unnest(range(1, 65)) AS k),
       | x AS MATERIALIZED (SELECT vec_id, k, emb[k] AS v
       |  FROM e CROSS JOIN js),
       | mu AS MATERIALIZED (SELECT k, round(avg(v), 6) AS m, count(*) AS n
       |  FROM x GROUP BY k),
       | s AS (SELECT a.k AS i, b.k AS j, sum(a.v * b.v) AS s
       |  FROM x AS a JOIN x AS b USING (vec_id) GROUP BY 1, 2),
       | c AS MATERIALIZED (SELECT s.i, s.j,
       |  round(s.s / mi.n - mi.m * mj.m, 6) AS c
       |  FROM s JOIN mu AS mi ON mi.k = s.i JOIN mu AS mj ON mj.k = s.j),
       | v0 AS MATERIALIZED (SELECT k AS j, round(1 / sqrt(64.0), 9) AS vj
       |  FROM js),
       | $rounds""".stripMargin.replace("\n", " ")
  }

  /** Deflation suffix for the spectral-gap oracle: λ₁ from the
    * converged v, C₂ = C − λ₁vvᵀ (both factors rounded exactly like
    * the engine), then the same unrolled rounds on C₂ under the u
    * prefix. */
  private val PCA2_CTES = {
    val rounds2 = (1 to PCA_ROUNDS).map { r =>
      val prev = if (r == 1) "u0" else s"u${r - 1}"
      s"""uw$r AS MATERIALIZED (SELECT c2.i, sum(c2.c * v.vj) AS w
         | FROM c2 JOIN $prev AS v ON v.j = c2.j GROUP BY c2.i),
         | u$r AS MATERIALIZED (SELECT i AS j,
         |  round(w / (SELECT sqrt(sum(w * w)) FROM uw$r), 9) AS vj
         |  FROM uw$r)""".stripMargin.replace("\n", " ")
    }.mkString(", ")
    s"""lam1 AS MATERIALIZED (SELECT round(sum(c.c * a.vj * b.vj), 6) AS l1
       | FROM c JOIN v$PCA_ROUNDS AS a ON a.j = c.i
       | JOIN v$PCA_ROUNDS AS b ON b.j = c.j),
       | c2 AS MATERIALIZED (SELECT c.i, c.j,
       |  round(c.c - lam1.l1 * a.vj * b.vj, 6) AS c
       |  FROM c JOIN v$PCA_ROUNDS AS a ON a.j = c.i
       |  JOIN v$PCA_ROUNDS AS b ON b.j = c.j, lam1),
       | u0 AS (SELECT k AS j, round(1 / sqrt(64.0), 9) AS vj FROM js),
       | $rounds2""".stripMargin.replace("\n", " ")
  }

  /** Shared CTE prefix for the CCNet tercile oracles: the
    * text_bigram per-doc ppl (rounded 6, matching
    * TextAnalysis.bigramCrossEntropy), joined to the doc's language
    * and ranked 0-based by (ppl, doc_id) within it. */
  private val CCNET_CTES =
    """wd AS (SELECT doc_id,
      |  string_split_regex(lower(text), '\s+') AS ws FROM documents),
      | bi AS (SELECT doc_id,
      |  unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS bg
      |  FROM wd WHERE len(ws) >= 2),
      | c12 AS (SELECT bg, count(*) AS c12 FROM bi GROUP BY bg),
      | c1 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
      |  FROM c12 GROUP BY 1),
      | v AS (SELECT count(DISTINCT w) AS vocab FROM
      |  (SELECT unnest(ws) AS w FROM wd) AS u),
      | lm AS (SELECT bg,
      |  ln((c12 + 1)::DOUBLE / (c1 + vocab)::DOUBLE) AS logp
      |  FROM c12 JOIN c1 ON split_part(c12.bg, ' ', 1) = c1.w1 CROSS JOIN v),
      | ppl AS (SELECT doc_id, round(exp(-avg(logp)), 6) AS ppl
      |  FROM bi JOIN lm USING (bg) GROUP BY doc_id),
      | r AS (SELECT d.doc_id, d.lang, ppl.ppl,
      |  row_number() OVER (PARTITION BY d.lang
      |    ORDER BY ppl.ppl, d.doc_id) - 1 AS rk,
      |  count(*) OVER (PARTITION BY d.lang) AS n
      |  FROM documents AS d JOIN ppl ON ppl.doc_id = d.doc_id)"""
      .stripMargin.replace("\n", " ")

  /** The cluster family's shared dup-graph edges: band candidates
    * verified by signature agreement (est. Jaccard >= MIN_AGREE/K).
    * All four consumers build the IDENTICAL lineage so the cluster
    * label cache (keyed on canonicalized plans) is shared. */
  private def verifiedPairs(docs: org.apache.spark.sql.DataFrame) = {
    val sigs = Dedup.minhashSignatureCached(docs, K)
    Dedup.verifyCandidates(sigs,
      Dedup.minhashCandidatesCached(sigs, BANDS, ROWS), MIN_AGREE, K)
  }
  private val PAIRS =
    s"""SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       | FROM capped AS l JOIN capped AS r
       |  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id""".stripMargin.replace("\n", " ")

  /** signature-agreement verification SQL (mirrors
    * Dedup.verifyCandidates: est. Jaccard = agree/K >= MIN_AGREE/K). */
  private val VERIFIED = {
    val agree = (0 until K)
      .map(i => s"(CASE WHEN l.mh$i = r.mh$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""SELECT doc_a, doc_b FROM (
       | SELECT p.doc_a, p.doc_b, $agree AS agree
       | FROM p JOIN sig AS l ON p.doc_a = l.doc_id
       |  JOIN sig AS r ON p.doc_b = r.doc_id) AS z
       | WHERE agree >= $MIN_AGREE""".stripMargin.replace("\n", " ")
  }

  /** Unigram-LM trainer oracle — replays [[Unigram.train]] exactly:
    * seed substring frequencies, then per round an UNROLLED greedy
    * longest-match segmentation (`steps` map passes; the engine's
    * vocab-literal coalesce is the join+row_number here — no ties
    * possible: equal-length matches at one position are the same
    * string), usage counts with zero-fill, and the weakest-multi
    * prune with a data-derived LIMIT so the oracle degrades exactly
    * like the engine when the corpus seeds fewer pieces. */
  /** (train SQL, encode SQL, shared training prefix incl. the
    * per-word piece-cost CTE) — the prefix is reused verbatim by the
    * fertility card's oracle. */
  private def unigramOracleSql(seedMulti: Int = 16, pieceMax: Int = 4,
                               rounds: Int = 3, prune: Int = 3,
                               steps: Int = 24): (String, String, String) = {
    val subsUnion = (1 to pieceMax).map { l =>
      s"""SELECT freq, unnest([substr(word, i, $l)
         | for i in range(1, length(word) - ${l - 1} + 1)]) AS piece
         | FROM wf WHERE length(word) >= $l""".stripMargin.replace("\n", " ")
    }.mkString(" UNION ALL ")
    // AS MATERIALIZED on the step chain: DuckDB inlines CTEs by
    // default, and the m_i → s_i → m_{i-1} chain would re-expand
    // (and re-open the parquet) exponentially with the unroll depth
    // — the SQL mirror of the CollapseProject trap the engine
    // checkpoints away
    def segCtes(tag: String, vocab: String): (String, String) = {
      val ctes = (0 until steps).map { i =>
        s"""m${tag}_$i AS MATERIALIZED (SELECT word, freq, pos, piece FROM (
           | SELECT s.word, s.freq, s.pos, v.piece,
           |  row_number() OVER (PARTITION BY s.word, s.pos
           |    ORDER BY length(v.piece) DESC) AS rn
           | FROM s${tag}_$i AS s JOIN $vocab AS v
           |  ON substr(s.word, s.pos, length(v.piece)) = v.piece) AS t
           | WHERE rn = 1),
           | s${tag}_${i + 1} AS MATERIALIZED (SELECT word, freq,
           |  pos + length(piece) AS pos FROM m${tag}_$i
           |  WHERE pos + length(piece) <= length(word))""".stripMargin.replace("\n", " ")
      }.mkString(", ")
      val emitted = (0 until steps)
        .map(i => s"SELECT freq, piece FROM m${tag}_$i")
        .mkString(" UNION ALL ")
      (s"s${tag}_0 AS MATERIALIZED (SELECT word, freq, 1 AS pos FROM wf), $ctes",
        emitted)
    }
    val roundCtes = (1 to rounds).map { r =>
      val (seg, emitted) = segCtes(s"r$r", s"vocab$r")
      s"""$seg,
         | cnt$r AS MATERIALIZED (SELECT v.piece, coalesce(sum(m.freq), 0) AS usage
         |  FROM vocab$r AS v LEFT JOIN ($emitted) AS m ON m.piece = v.piece
         |  GROUP BY v.piece),
         | vocab${r + 1} AS MATERIALIZED (SELECT piece FROM chars UNION ALL
         |  (SELECT piece FROM cnt$r WHERE length(piece) > 1
         |   ORDER BY usage DESC, piece ASC
         |   LIMIT greatest(0, (SELECT count(*) FROM cnt$r
         |     WHERE length(piece) > 1) - $prune)))""".stripMargin.replace("\n", " ")
    }.mkString(", ")
    val (fseg, femitted) = segCtes("f", s"vocab${rounds + 1}")
    val prefix =
      s"""wf AS MATERIALIZED (SELECT word, count(*) AS freq FROM (
         |  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
         |  FROM documents) AS u WHERE length(word) > 0 GROUP BY word),
         | subs AS MATERIALIZED (SELECT piece, sum(freq) AS usage
         |  FROM ($subsUnion) AS su GROUP BY piece),
         | chars AS MATERIALIZED (SELECT piece FROM subs WHERE length(piece) = 1),
         | vocab1 AS MATERIALIZED (SELECT piece FROM chars UNION ALL
         |  (SELECT piece FROM subs WHERE length(piece) > 1
         |   ORDER BY usage DESC, piece ASC LIMIT $seedMulti)),
         | $roundCtes,
         | $fseg""".stripMargin.replace("\n", " ")
    val train =
      s"""WITH $prefix,
         | fj AS (SELECT v.piece, coalesce(sum(m.freq), 0) AS usage
         |  FROM vocab${rounds + 1} AS v LEFT JOIN ($femitted) AS m
         |   ON m.piece = v.piece GROUP BY v.piece),
         | tot AS (SELECT sum(usage) AS t, count(*) AS v FROM fj)
         | SELECT piece, CAST(length(piece) AS BIGINT) AS n_chars,
         |  CAST(usage AS BIGINT) AS usage,
         |  round(ln((usage + 1)::DOUBLE / (t + v)), 6) AS logp,
         |  row_number() OVER (ORDER BY usage DESC, piece ASC) AS rank
         | FROM fj, tot ORDER BY rank""".stripMargin.replace("\n", " ")
    // encode: pieces-per-word from the final segmentation (each m
    // step emits one piece per surviving word), joined to doc words
    val encEmitted = (0 until steps)
      .map(i => s"SELECT word FROM mf_$i")
      .mkString(" UNION ALL ")
    val prefixWithPw =
      s"""$prefix,
         | pw AS (SELECT word, count(*) AS word_pieces
         |  FROM ($encEmitted) AS e GROUP BY word)""".stripMargin.replace("\n", " ")
    val encode =
      s"""WITH $prefixWithPw,
         | dw AS (SELECT doc_id,
         |  unnest(string_split_regex(lower(text), '\\s+')) AS word
         |  FROM documents)
         | SELECT dw.doc_id, count(*) AS n_words,
         |  CAST(sum(pw.word_pieces) AS BIGINT) AS unigram_tokens
         | FROM dw JOIN pw ON pw.word = dw.word
         | GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin.replace("\n", " ")
    (train, encode, prefixWithPw)
  }

  /** Once-per-(session, sf dir) VectorStore table for the persisted
    * ANN queries — same idempotent catalog-cached pattern as
    * TsdbQueries' SeriesStore table; md5-derived name so sf dirs
    * never collide. Built with the sim_ivf_ann/sim_ivfpq_ann default
    * parameters so the stored routes are byte-comparable. */
  private val vecTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def vecTable(s: SparkSession, dir: String): String =
    graft.Memo.once(vecTables, (s, dir))({
      val t = "graft_vec_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      graft.sources.VectorStore.build(Tables.embeddings(s, dir), t)
      t
    })

  /** Once-per-(session, sf dir) MinHashStore index over the first
    * 400 docs — the persisted-LSH probe queries' history. */
  private val mhTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def mhTable(s: SparkSession, dir: String): String =
    graft.Memo.once(mhTables, (s, dir))({
      val t = "graft_mh_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      graft.sources.MinHashStore.build(
        Tables.documents(s, dir).where(col("doc_id") < 400), t,
        K, BANDS, ROWS)
      t
    })

  /** Once-per-(session, sf dir) SketchStore register table over the
    * full corpus — built in TWO halves via build + append so the
    * stored path always exercises the read-time max-merge. */
  private val sketchTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def sketchTable(s: SparkSession, dir: String): String =
    graft.Memo.once(sketchTables, (s, dir))({
      val t = "graft_hll_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val docs = Tables.documents(s, dir)
      graft.sources.SketchStore.build(docs.where(col("doc_id") < 250), t)
      graft.sources.SketchStore.append(docs.where(col("doc_id") >= 250), t)
      t
    })

  /** Once-per-(session, sf dir) spectrum cell table — TWO halves via
    * build + append so the stored path always exercises the mixed
    * max/sum read-time merge (the incremental-corpus-audit shape:
    * the second half folds in WITHOUT rescanning the first). */
  private val spectrumTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def spectrumTable(s: SparkSession, dir: String): String =
    graft.Memo.once(spectrumTables, (s, dir))({
      val t = "graft_spec_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val docs = Tables.documents(s, dir)
      graft.sources.SketchStore.buildSpectrum(
        docs.where(col("doc_id") < 250), t)
      graft.sources.SketchStore.appendSpectrum(
        docs.where(col("doc_id") >= 250), t)
      t
    })

  /** Once-per-(session, sf dir) DDSketch cell table over the events
    * — TWO halves via build + append so the stored path always
    * exercises the read-time sum-merge. */
  private val ddTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private def ddTable(s: SparkSession, dir: String): String =
    graft.Memo.once(ddTables, (s, dir))({
      val t = "graft_dd_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val events = Tables.events(s, dir)
      graft.sources.SketchStore.buildDd(
        events.where(col("event_id") % 2 === 0), t)
      graft.sources.SketchStore.appendDd(
        events.where(col("event_id") % 2 =!= 0), t)
      t
    })

  /** LSH bucket id SQL — regenerates the identical hyperplane family
    * as [[Similarity.lshBucket]] (same mixing, same literal ±1
    * weights), so the oracle replays the bucketing exactly. */
  private def lshBucketSql(planes: Int, seed: Int, dim: Int = 64): String =
    Similarity.hyperplanes(dim, planes, seed).zipWithIndex.map { case (w, p) =>
      val arr = w.map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $arr) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  /** multi-table banded bucket SQL over `embeddings`. */
  private def lshBandedSql(tables: Int, planes: Int, idAs: String,
                           where: String = ""): String =
    (0 until tables).map { t =>
      s"SELECT vec_id AS $idAs, $t AS tbl, ${lshBucketSql(planes, t)} AS bucket " +
        s"FROM embeddings $where"
    }.mkString(" UNION ALL ")

  /** multi-probe oracle: per-plane margins as a literal-array union,
    * base bucket + smallest-|margin| single-bit flips, candidate
    * bucket join, exact re-rank — the engine's relational probe
    * formulation replayed verbatim. */
  private def multiProbeOracleSql(k: Int, planes: Int, probes: Int,
                                  dim: Int = 64, seed: Int = 0): String = {
    val qm = Similarity.hyperplanes(dim, planes, seed).zipWithIndex
      .map { case (w, p) =>
        val arr = w.map(d => if (d > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
        s"SELECT vec_id AS q_id, $p AS p, ${1 << p} AS pw, " +
          s"list_dot_product(embedding::DOUBLE[], $arr) AS m " +
          "FROM embeddings WHERE vec_id < 10"
      }.mkString(" UNION ALL ")
    s"""WITH qm AS ($qm),
       | qb AS (SELECT q_id, CAST(sum(CASE WHEN m >= 0 THEN pw ELSE 0 END)
       |   AS INT) AS b FROM qm GROUP BY q_id),
       | fl AS (SELECT q_id, pw FROM (SELECT q_id, pw, row_number() OVER (
       |   PARTITION BY q_id ORDER BY abs(m) ASC, p ASC) AS r FROM qm) AS z
       |  WHERE r <= $probes),
       | pr AS (SELECT q_id, b AS bucket FROM qb
       |  UNION ALL SELECT fl.q_id, CAST(xor(qb.b, fl.pw) AS INT) AS bucket
       |  FROM fl JOIN qb ON qb.q_id = fl.q_id),
       | cb AS (SELECT vec_id AS c_id, ${lshBucketSql(planes, seed)} AS bucket
       |  FROM embeddings),
       | cand AS (SELECT DISTINCT pr.q_id, cb.c_id FROM cb
       |  JOIN pr ON pr.bucket = cb.bucket WHERE cb.c_id <> pr.q_id)
       | SELECT q_id, c_id, round(cos, 6) AS cos_v, rk FROM (
       |  SELECT cand.q_id, cand.c_id, ${cosSql("a", "b")} AS cos,
       |   row_number() OVER (PARTITION BY cand.q_id
       |    ORDER BY ${cosSql("a", "b")} DESC, cand.c_id ASC) AS rk
       |  FROM cand JOIN embeddings AS a ON a.vec_id = cand.q_id
       |   JOIN embeddings AS b ON b.vec_id = cand.c_id) AS t
       | WHERE rk <= $k ORDER BY q_id, rk""".stripMargin.replace("\n", " ")
  }

  /** probe-depth calibration oracle: margins/base/flips as in the
    * multi-probe oracle, candidates tagged with their min entry
    * depth, per-depth branch filters entry ≤ p and counts top-k hits
    * against the exact ranking. */
  private def probeCurveOracleSql(k: Int, nq: Int, planes: Int,
                                  maxProbes: Int, dim: Int = 64,
                                  seed: Int = 0): String = {
    val qm = Similarity.hyperplanes(dim, planes, seed).zipWithIndex
      .map { case (w, p) =>
        val arr = w.map(d => if (d > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
        s"SELECT vec_id AS q_id, $p AS p, ${1 << p} AS pw, " +
          s"list_dot_product(embedding::DOUBLE[], $arr) AS m " +
          s"FROM embeddings WHERE vec_id < $nq"
      }.mkString(" UNION ALL ")
    val branches = (0 to maxProbes).map { p =>
      s"""SELECT CAST($p AS BIGINT) AS probes,
         | (SELECT count(*) FROM sc WHERE entry <= $p) AS n_cand,
         | (SELECT CAST(count(*) AS BIGINT) FROM (
         |   SELECT q_id, c_id FROM (SELECT q_id, c_id, row_number()
         |     OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rk
         |    FROM sc WHERE entry <= $p) AS z$p WHERE rk <= $k) AS t$p
         |  JOIN ex USING (q_id, c_id)) AS n_hits""".stripMargin
        .replace("\n", " ")
    }.mkString(" UNION ALL ")
    s"""WITH qm AS ($qm),
       | qb AS (SELECT q_id, CAST(sum(CASE WHEN m >= 0 THEN pw ELSE 0 END)
       |   AS INT) AS b FROM qm GROUP BY q_id),
       | fl AS (SELECT q_id, pw, r FROM (SELECT q_id, pw, row_number()
       |   OVER (PARTITION BY q_id ORDER BY abs(m) ASC, p ASC) AS r
       |  FROM qm) AS z WHERE r <= $maxProbes),
       | pr AS (SELECT q_id, b AS bucket, 0 AS depth FROM qb
       |  UNION ALL SELECT fl.q_id, CAST(xor(qb.b, fl.pw) AS INT), fl.r
       |  FROM fl JOIN qb ON qb.q_id = fl.q_id),
       | cb AS (SELECT vec_id AS c_id, ${lshBucketSql(planes, seed)} AS bucket
       |  FROM embeddings),
       | cand AS (SELECT pr.q_id, cb.c_id, min(pr.depth) AS entry FROM cb
       |  JOIN pr ON pr.bucket = cb.bucket WHERE cb.c_id <> pr.q_id
       |  GROUP BY 1, 2),
       | sc AS (SELECT cand.q_id, cand.c_id, cand.entry,
       |   ${cosSql("a", "b")} AS cos
       |  FROM cand JOIN embeddings AS a ON a.vec_id = cand.q_id
       |   JOIN embeddings AS b ON b.vec_id = cand.c_id),
       | ex AS (SELECT q_id, c_id FROM (
       |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |   row_number() OVER (PARTITION BY a.vec_id
       |    ORDER BY ${cosSql("a", "b")} DESC, b.vec_id ASC) AS rk
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id < $nq) AS e WHERE rk <= $k)
       | SELECT probes, n_cand, n_hits,
       |  round(n_hits / ${(nq * k).toDouble}, 6) AS recall_k
       | FROM ($branches) AS u ORDER BY probes""".stripMargin
      .replace("\n", " ")
  }

  /** farthest-first oracle: k−1 unrolled argmax rounds, each
    * maintaining the running min-d² frame incrementally (least of
    * the previous frame and the distance to the new pick) — min is
    * association-free, so the engine's full-fold recomputation and
    * this incremental chain agree bit-for-bit. */
  private def farthestOracleSql(k: Int): String = {
    def d2(x: String, c: String) =
      s"(list_dot_product($x.e, $x.e) + list_dot_product($c.e, $c.e)" +
        s" - 2 * list_dot_product($x.e, $c.e))"
    val stages = (1 until k).map { r =>
      val roll = if (r < k - 1)
        s""", m${r + 1} AS (SELECT m$r.vec_id,
           |  least(m$r.md, ${d2("x", "c")}) AS md
           | FROM m$r JOIN base AS x ON x.vec_id = m$r.vec_id
           | CROSS JOIN e$r AS c)""".stripMargin.replace("\n", " ")
      else ""
      s"""p$r AS (SELECT vec_id, md FROM m$r
         | ORDER BY md DESC, vec_id ASC LIMIT 1),
         | e$r AS (SELECT b.vec_id, b.e FROM base AS b
         |  JOIN p$r ON p$r.vec_id = b.vec_id)$roll""".stripMargin
        .replace("\n", " ")
    }.mkString(", ")
    val rows = (1 until k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rk, vec_id, round(md, 6) AS min_d2 " +
        s"FROM p$r").mkString(" UNION ALL ")
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e
       |  FROM embeddings),
       | c0 AS (SELECT vec_id, e FROM base ORDER BY vec_id LIMIT 1),
       | m1 AS (SELECT x.vec_id, ${d2("x", "c")} AS md
       |  FROM base AS x CROSS JOIN c0 AS c),
       | $stages
       | SELECT * FROM (
       |  SELECT CAST(0 AS BIGINT) AS rk, (SELECT vec_id FROM c0) AS vec_id,
       |   CAST(NULL AS DOUBLE) AS min_d2
       |  UNION ALL $rows) AS u ORDER BY rk""".stripMargin.replace("\n", " ")
  }

  /** bloom FPR curve oracle: the dedup_bloom pipeline replayed per
    * candidate size, reduced to the one-row census + the classical
    * (1 − e^(−kn/m))^k prediction. */
  private def bloomFprOracleSql(sizes: Seq[Int], k: Int): String = {
    val ks = (0 until k).mkString("[", ", ", "]")
    val perSize = sizes.map { m =>
      s"""bp$m AS (SELECT CAST('0x' || substr(md5(h || '#' || i), 1, 8)
         |    AS BIGINT) % $m AS pos FROM hist CROSS JOIN ks),
         | bl$m AS (SELECT pos // 32 AS word_idx,
         |   bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
         |  FROM bp$m GROUP BY 1),
         | pb$m AS (SELECT doc_id, h, CAST('0x' || substr(md5(h || '#' || i),
         |    1, 8) AS BIGINT) % $m AS pos
         |  FROM h CROSS JOIN ks WHERE is_new = 1),
         | ht$m AS (SELECT doc_id, h, min(CASE WHEN (coalesce(bits, 0) &
         |    (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) <> 0
         |   THEN 1 ELSE 0 END) AS might_dup
         |  FROM pb$m LEFT JOIN bl$m ON pb$m.pos // 32 = bl$m.word_idx
         |  GROUP BY doc_id, h),
         | ag$m AS (SELECT count(*) AS n_probes,
         |   CAST(sum(CASE WHEN s.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |   CAST(sum(CASE WHEN might_dup = 1 AND s.h IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
         |  FROM ht$m LEFT JOIN hist AS s ON ht$m.h = s.h)""".stripMargin
        .replace("\n", " ")
    }.mkString(", ")
    val branches = sizes.map { m =>
      s"""SELECT CAST($m AS BIGINT) AS m_bits,
         | (SELECT count(*) FROM hist) AS n_history,
         | n_probes, n_novel, n_false_pos,
         | round(n_false_pos / n_novel::DOUBLE, 6) AS measured_fpr,
         | round(pow(1.0 - exp(-$k.0 * (SELECT count(*) FROM hist)
         |   / $m.0), $k.0), 6) AS theory_fpr
         | FROM ag$m""".stripMargin.replace("\n", " ")
    }.mkString(" UNION ALL ")
    s"""WITH h AS (SELECT doc_id, md5(text) AS h, doc_id % 2 AS is_new
       |  FROM documents),
       | hist AS (SELECT DISTINCT h FROM h WHERE is_new = 0),
       | ks AS (SELECT unnest($ks) AS i),
       | $perSize
       | SELECT * FROM ($branches) AS u ORDER BY m_bits""".stripMargin
      .replace("\n", " ")
  }

  /** gopher signal inner SQL (mirrors TextAnalysis.gopherQuality). */
  private val GOPHER_INNER =
    """SELECT doc_id,
      | round(list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws), 6)
      |   AS mean_word_len,
      | round((len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines), 6)
      |   AS dup_line_frac,
      | round((length(text) - length(regexp_replace(text, '[#$%&@~^*]', '', 'g')))::DOUBLE
      |   / len(ws), 6) AS symbol_ratio,
      | round(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))::DOUBLE
      |   / len(lines), 6) AS bullet_frac
      | FROM (SELECT doc_id, text,
      |   string_split_regex(lower(text), '\s+') AS ws,
      |   string_split(text, chr(10)) AS lines
      |  FROM documents) AS t""".stripMargin.replace("\n", " ")

  /** 64-bit simhash fingerprint SQL (mirrors Dedup.simhash). */
  private val SIMHASH_FP: String = {
    val bitSums = (0 until 64).map { j =>
      val w = if (j < 32) "h" else "h_hi"
      s"CAST(sum(CASE WHEN ($w >> ${j % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b$j"
    }.mkString(", ")
    def half(lo: Int) = (lo until lo + 32)
      .map(j => s"CASE WHEN b$j > 0 THEN ${1L << (j % 32)} ELSE 0 END")
      .mkString(" + ")
    s"""SELECT doc_id, fp_lo, fp_hi,
       | CAST(fp_lo + (fp_hi - CASE WHEN fp_hi >= 2147483648 THEN 4294967296 ELSE 0 END)
       |   * 4294967296 AS BIGINT) AS simhash_v
       | FROM (SELECT doc_id, CAST(${half(0)} AS BIGINT) AS fp_lo,
       |  CAST(${half(32)} AS BIGINT) AS fp_hi
       |  FROM (SELECT doc_id, $bitSums FROM ($H) AS h GROUP BY doc_id) AS b) AS f""".stripMargin.replace("\n", " ")
  }

  /** k-means CTE chain (seeded init + one Lloyd round), shared by the
    * sim_kmeans and dedup_semantic oracles — mirrors
    * [[Similarity.kmeans]](k=8, iters=1) exactly. */
  private lazy val KMEANS_CTES: String = {
    def assignSql(cents: String) =
      s"""SELECT vec_id, ci AS cluster FROM (
         | SELECT e.vec_id, c.ci, row_number() OVER (PARTITION BY e.vec_id
         |   ORDER BY (list_dot_product(c.cemb, c.cemb)
         |     - 2 * list_dot_product(e.embedding::DOUBLE[], c.cemb)) ASC,
         |    c.ci ASC) AS rn
         | FROM embeddings AS e CROSS JOIN $cents AS c) AS t WHERE rn = 1""".stripMargin.replace("\n", " ")
    s"""cents0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
       |   embedding::DOUBLE[] AS cemb
       |  FROM embeddings ORDER BY vec_id LIMIT 8),
       | a0 AS (${assignSql("cents0")}),
       | mexp AS (SELECT a0.cluster, j, (e.embedding::DOUBLE[])[j] AS v
       |  FROM a0 JOIN embeddings AS e USING (vec_id)
       |  CROSS JOIN (SELECT unnest(range(1, 65)) AS j) AS js),
       | means AS (SELECT cluster, list(mv ORDER BY j) AS memb FROM (
       |  SELECT cluster, j, avg(v) AS mv FROM mexp GROUP BY cluster, j) AS g
       |  GROUP BY cluster),
       | cents1 AS (SELECT c0.ci, coalesce(m.memb, c0.cemb) AS cemb
       |  FROM cents0 AS c0 LEFT JOIN means AS m ON m.cluster = c0.ci),
       | a1 AS (${assignSql("cents1")})""".stripMargin.replace("\n", " ")
  }

  /** BPE training stages v0..v{rounds} with per-round argmax t_i —
    * shared by the train and encode oracles. Each t_i carries a
    * sentinel ('','',-1) fallback so a corpus with fewer than
    * `rounds` distinct merges leaves t_i non-empty (the encode
    * oracle cross-joins all t_i — an empty one would annihilate the
    * result where the engine just early-stops); the sentinel's
    * replace pattern is four consecutive spaces, which never occurs
    * in a repr, so it rewrites nothing. Train filters sentinels out
    * (pfreq > 0) to mirror the engine's early stop. */
  private def bpeStagesSql(rounds: Int): String = {
    val base =
      """SELECT freq, ' ' || array_to_string(
        |  [substring(w, i, 1) for i in range(1, length(w) + 1)], '  ')
        |  || ' ' AS repr
        | FROM (SELECT w, count(*) AS freq FROM (
        |   SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |   FROM documents) AS u
        |  WHERE length(w) > 0 GROUP BY w) AS b""".stripMargin.replace("\n", " ")
    val stages = (1 to rounds).map { i =>
      s"""p$i AS (SELECT p.a AS a, p.b AS b, sum(freq) AS pfreq FROM (
         |  SELECT freq, unnest([{'a': syms[i], 'b': syms[i+1]}
         |    for i in range(1, len(syms))]) AS p
         |  FROM (SELECT freq, string_split(trim(repr), '  ') AS syms
         |        FROM v${i - 1}) AS t
         |  WHERE len(syms) >= 2) AS u GROUP BY 1, 2),
         | t$i AS (SELECT a, b, pfreq FROM (
         |   SELECT a, b, pfreq FROM p$i
         |   UNION ALL SELECT '', '', -1) AS w$i
         |  ORDER BY pfreq DESC, a ASC, b ASC LIMIT 1),
         | v$i AS (SELECT freq,
         |  replace(repr, ' ' || t.a || '  ' || t.b || ' ',
         |    ' ' || t.a || t.b || ' ') AS repr
         |  FROM v${i - 1}, t$i AS t)""".stripMargin.replace("\n", " ")
    }.mkString(", ")
    s"v0 AS ($base), $stages"
  }

  /** WordPiece training stages: like [[bpeStagesSql]] but each
    * round's argmax maximizes pfreq/(count(a)·count(b)) — integer
    * counts divided as doubles, bit-identical across engines; the
    * sentinel row keeps empty rounds from annihilating the rewrite
    * chain (filtered by pfreq > 0 at emission). */
  private def wordpieceStagesSql(rounds: Int): String = {
    val base =
      """SELECT freq, ' ' || array_to_string(
        |  [substring(w, i, 1) for i in range(1, length(w) + 1)], '  ')
        |  || ' ' AS repr
        | FROM (SELECT w, count(*) AS freq FROM (
        |   SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |   FROM documents) AS u
        |  WHERE length(w) > 0 GROUP BY w) AS b""".stripMargin.replace("\n", " ")
    val stages = (1 to rounds).map { i =>
      s"""wc$i AS (SELECT s, sum(freq) AS c FROM (
         |  SELECT freq, unnest(string_split(trim(repr), '  ')) AS s
         |  FROM wv${i - 1}) AS u GROUP BY s),
         | wp$i AS (SELECT p.a AS a, p.b AS b, sum(freq) AS pfreq FROM (
         |  SELECT freq, unnest([{'a': syms[i], 'b': syms[i+1]}
         |    for i in range(1, len(syms))]) AS p
         |  FROM (SELECT freq, string_split(trim(repr), '  ') AS syms
         |        FROM wv${i - 1}) AS t
         |  WHERE len(syms) >= 2) AS u GROUP BY 1, 2),
         | wt$i AS (SELECT a, b, pfreq, score FROM (
         |   SELECT w.a, w.b, w.pfreq,
         |    w.pfreq::DOUBLE / (ca.c::DOUBLE * cb.c::DOUBLE) AS score
         |   FROM wp$i AS w JOIN wc$i AS ca ON ca.s = w.a
         |    JOIN wc$i AS cb ON cb.s = w.b
         |   UNION ALL SELECT '', '', -1, -1.0) AS z$i
         |  ORDER BY score DESC, a ASC, b ASC LIMIT 1),
         | wv$i AS MATERIALIZED (SELECT freq,
         |  replace(repr, ' ' || t.a || '  ' || t.b || ' ',
         |    ' ' || t.a || t.b || ' ') AS repr
         |  FROM wv${i - 1}, wt$i AS t)""".stripMargin.replace("\n", " ")
    }.mkString(", ")
    // MATERIALIZED is load-bearing: every round references wv(i-1)
    // THREE times (symbol counts, pair counts, rewrite) and DuckDB
    // inlines plain CTEs — 3^rounds scans exhausts the fd limit
    s"wv0 AS MATERIALIZED ($base), $stages"
  }

  /** MMR oracle: dense top-poolK pool + poolK² pairwise sims, then
    * the k greedy picks unrolled as sel1..selK CTEs. Scoring is in
    * exact integer tenth-micro units (λ = p/10, score = p·rel₆ −
    * (10−p)·sim₆ over the 6-decimal integers) — a float λ·rel −
    * (1−λ)·sim lands exactly ON .5 at the 7th decimal routinely and
    * the two engines' round() disagree there. */
  private def mmrOracleSql(k: Int, poolK: Int, lamNum: Int): String = {
    val om = 10 - lamNum
    val rounds = (2 to k).map { r =>
      s"""p$r AS (SELECT q_id, c_id, rel_v, mmr_v,
         |   CAST($r AS BIGINT) AS step FROM (
         |  SELECT cand.q_id, cand.c_id, cand.rel_v,
         |   ($lamNum * cand.rel_i - $om * ms.max_sim_i) / 10000000.0
         |     AS mmr_v,
         |   row_number() OVER (PARTITION BY cand.q_id
         |     ORDER BY $lamNum * cand.rel_i - $om * ms.max_sim_i
         |      DESC, cand.c_id ASC) AS r
         |  FROM cand JOIN (
         |    SELECT s2.q_id, s2.a_id AS c_id, max(s2.sim_i) AS max_sim_i
         |    FROM sims s2 JOIN sel${r - 1} s
         |     ON s.q_id = s2.q_id AND s.c_id = s2.b_id
         |    GROUP BY 1, 2) AS ms
         |   ON ms.q_id = cand.q_id AND ms.c_id = cand.c_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} sx
         |    WHERE sx.q_id = cand.q_id AND sx.c_id = cand.c_id)) AS z$r
         | WHERE r = 1),
         | sel$r AS (SELECT * FROM sel${r - 1}
         |  UNION ALL SELECT * FROM p$r)""".stripMargin.replace("\n", " ")
    }.mkString(", ")
    s"""WITH cand AS (SELECT q_id, c_id, rel_v,
       |   CAST(round(rel_v * 1000000.0, 0) AS BIGINT) AS rel_i FROM (
       |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |   round(${cosSql("a", "b")}, 6) AS rel_v,
       |   row_number() OVER (PARTITION BY a.vec_id
       |     ORDER BY ${cosSql("a", "b")} DESC, b.vec_id ASC) AS rk
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id < 10) AS t WHERE rk <= $poolK),
       | sims AS (SELECT l.q_id, l.c_id AS a_id, r.c_id AS b_id,
       |   CAST(round(round(${cosSql("a", "b")}, 6) * 1000000.0, 0)
       |     AS BIGINT) AS sim_i
       |  FROM cand l JOIN cand r ON l.q_id = r.q_id AND l.c_id <> r.c_id
       |  JOIN embeddings a ON a.vec_id = l.c_id
       |  JOIN embeddings b ON b.vec_id = r.c_id),
       | sel1 AS (SELECT q_id, c_id, rel_v,
       |   ($lamNum * rel_i) / 10000000.0 AS mmr_v,
       |   CAST(1 AS BIGINT) AS step FROM (
       |  SELECT q_id, c_id, rel_v, rel_i,
       |   row_number() OVER (PARTITION BY q_id
       |    ORDER BY rel_i DESC, c_id ASC) AS r FROM cand) AS z1
       |  WHERE r = 1),
       | $rounds
       | SELECT q_id, c_id, rel_v, mmr_v, step FROM sel$k
       | ORDER BY q_id, step""".stripMargin.replace("\n", " ")
  }

  /** kmeans-inertia oracle: Lloyd iterations 0..2 with per-vector
    * (cluster, d²) labels, inertia sums and moved counts. */
  private lazy val KMEANS_INERTIA_SQL: String = {
    def d2(e: String, c: String) =
      s"""(list_dot_product($e.embedding::DOUBLE[], $e.embedding::DOUBLE[])
         | + list_dot_product($c.cemb, $c.cemb)
         | - 2 * list_dot_product($e.embedding::DOUBLE[], $c.cemb))""".stripMargin.replace("\n", " ")
    def labelsSql(cents: String) =
      s"""SELECT vec_id, cluster, d2 FROM (
         | SELECT e.vec_id, c.ci AS cluster, ${d2("e", "c")} AS d2,
         |  row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${d2("e", "c")} ASC, c.ci ASC) AS rn
         | FROM embeddings AS e CROSS JOIN $cents AS c) AS t
         | WHERE rn = 1""".stripMargin.replace("\n", " ")
    def meansSql(labels: String) =
      s"""SELECT cluster, list(mv ORDER BY j) AS memb FROM (
         | SELECT cluster, j, avg(v) AS mv FROM (
         |  SELECT $labels.cluster, j, (e.embedding::DOUBLE[])[j] AS v
         |  FROM $labels JOIN embeddings AS e USING (vec_id)
         |  CROSS JOIN (SELECT unnest(range(1, 65)) AS j) AS js) AS x
         | GROUP BY cluster, j) AS g GROUP BY cluster""".stripMargin.replace("\n", " ")
    s"""WITH cents0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
       |   embedding::DOUBLE[] AS cemb
       |  FROM embeddings ORDER BY vec_id LIMIT 8),
       | l0 AS (${labelsSql("cents0")}),
       | m0 AS (${meansSql("l0")}),
       | cents1 AS (SELECT c.ci, coalesce(m.memb, c.cemb) AS cemb
       |  FROM cents0 AS c LEFT JOIN m0 AS m ON m.cluster = c.ci),
       | l1 AS (${labelsSql("cents1")}),
       | m1 AS (${meansSql("l1")}),
       | cents2 AS (SELECT c.ci, coalesce(m.memb, c.cemb) AS cemb
       |  FROM cents1 AS c LEFT JOIN m1 AS m ON m.cluster = c.ci),
       | l2 AS (${labelsSql("cents2")})
       | SELECT * FROM (
       |  SELECT CAST(0 AS BIGINT) AS iter,
       |   round((SELECT sum(d2) FROM l0), 6) AS inertia,
       |   CAST(NULL AS BIGINT) AS moved
       |  UNION ALL SELECT 1,
       |   round((SELECT sum(d2) FROM l1), 6),
       |   (SELECT count(*) FROM l1 JOIN l0 USING (vec_id)
       |    WHERE l1.cluster <> l0.cluster)
       |  UNION ALL SELECT 2,
       |   round((SELECT sum(d2) FROM l2), 6),
       |   (SELECT count(*) FROM l2 JOIN l1 USING (vec_id)
       |    WHERE l2.cluster <> l1.cluster)) AS r
       | ORDER BY iter""".stripMargin.replace("\n", " ")
  }

  /** The logistic-GD training chain (mirror of
    * TextAnalysis.trainClassifier): base/feats CTEs + one unrolled
    * z/p/g/w block per round — shared by the weights oracle and the
    * EL2N scoring oracle. */
  private def classifierTrainCtes(dim: Int = 64, rounds: Int = 3,
                                  lr: Double = 1.0): String = {
    val base =
      s"""SELECT doc_id, CAST(lang = 'en' AS DOUBLE) AS y,
         | string_split_regex(lower(text), '\\s+') AS ws FROM documents""".stripMargin.replace("\n", " ")
    val feats =
      s"""SELECT doc_id, any_value(y) AS y, j,
         | count(*)::DOUBLE / any_value(n) AS x FROM (
         |  SELECT doc_id, y, len(ws)::DOUBLE AS n,
         |   CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % $dim AS INT) AS j
         |  FROM (SELECT doc_id, y, ws, unnest(ws) AS t FROM base) AS u) AS v
         | GROUP BY doc_id, j""".stripMargin.replace("\n", " ")
    val roundsSql = (1 to rounds).map { r =>
      s"""z$r AS (SELECT f.doc_id, sum(f.x * w${r - 1}.w) AS z
         |  FROM f JOIN w${r - 1} ON w${r - 1}.j = f.j GROUP BY f.doc_id),
         | p$r AS (SELECT doc_id, 1.0 / (1.0 + exp(-z)) AS p FROM z$r),
         | g$r AS (SELECT f.j, sum(f.x * (p$r.p - f.y)) AS g
         |  FROM f JOIN p$r USING (doc_id) GROUP BY f.j),
         | w$r AS (SELECT w${r - 1}.j,
         |  w${r - 1}.w - $lr * coalesce(g$r.g, 0) / nd.n AS w
         |  FROM w${r - 1} LEFT JOIN g$r ON g$r.j = w${r - 1}.j, nd)""".stripMargin.replace("\n", " ")
    }.mkString(", ")
    s"""base AS ($base), f AS ($feats),
       | nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
       | w0 AS (SELECT CAST(unnest(range($dim)) AS INT) AS j, 0.0 AS w),
       | $roundsSql""".stripMargin.replace("\n", " ")
  }

  /** Shared trigram-KN oracle pieces: the count-table CTE chain and
    * the per-order probability expressions (Chen & Goodman eq. 18),
    * used by the corpus_kn3_lm and corpus_kn3_ppl oracles. */
  private lazy val kn3Dd3: String =
    """(CASE WHEN g3.n1_3 + 2 * g3.n2_3 = 0 THEN 0.0
      | ELSE g3.n1_3::DOUBLE / (g3.n1_3 + 2 * g3.n2_3)::DOUBLE
      | END)""".stripMargin.replace("\n", " ")
  private lazy val kn3Dd2: String =
    """(CASE WHEN g2.n1_2 + 2 * g2.n2_2 = 0 THEN 0.0
      | ELSE g2.n1_2::DOUBLE / (g2.n1_2 + 2 * g2.n2_2)::DOUBLE
      | END)""".stripMargin.replace("\n", " ")
  private lazy val kn3P1: String =
    "(pw.nplus_w::DOUBLE / nt.n_types::DOUBLE)"
  private lazy val kn3P2: String =
    s"""(greatest(ct.n_vw::DOUBLE - $kn3Dd2, 0.0) / cv.n_v_dot::DOUBLE
       | + $kn3Dd2 * cv.nplus_v::DOUBLE / cv.n_v_dot::DOUBLE
       |   * $kn3P1)""".stripMargin.replace("\n", " ")
  /** λ₃ with the SRILM pruned-mass rule: the discount share of the
    * RETAINED types plus the whole pruned singleton mass. */
  private lazy val kn3Lam3: String =
    s"""(($kn3Dd3 * h.nplus_uv::DOUBLE + h.c_pruned::DOUBLE)
       | / h.c_uv::DOUBLE)""".stripMargin.replace("\n", " ")
  private def kn3P3(t: String): String =
    s"""(greatest($t.c_uvw::DOUBLE - $kn3Dd3, 0.0) / h.c_uv::DOUBLE
       | + $kn3Lam3 * $kn3P2)""".stripMargin.replace("\n", " ")
  private lazy val kn3Ctes: String =
    s"""arr AS (SELECT doc_id,
       |  string_split_regex(lower(text), '\\s+') AS a FROM documents),
       | tg AS (SELECT doc_id, unnest(a[1:len(a)-2]) AS u,
       |   unnest(a[2:len(a)-1]) AS v, unnest(a[3:len(a)]) AS w
       |  FROM arr WHERE len(a) >= 3),
       | c3 AS (SELECT u, v, w, count(*) AS c_uvw FROM tg GROUP BY 1, 2, 3),
       | hist AS (SELECT u, v, CAST(sum(c_uvw) AS BIGINT) AS c_uv,
       |   CAST(sum(CASE WHEN c_uvw >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS nplus_uv,
       |   CAST(sum(CASE WHEN c_uvw < 2 THEN c_uvw ELSE 0 END) AS BIGINT)
       |    AS c_pruned
       |  FROM c3 GROUP BY 1, 2),
       | c3p AS (SELECT * FROM c3 WHERE c_uvw >= 2),
       | cont AS (SELECT v, w, count(*) AS n_vw FROM c3p GROUP BY 1, 2),
       | cv0 AS (SELECT v, CAST(sum(n_vw) AS BIGINT) AS n_v_dot,
       |   count(*) AS nplus_v FROM cont GROUP BY 1),
       | bg AS (SELECT u, w, count(*) AS c_uw FROM (
       |   SELECT unnest(a[1:len(a)-1]) AS u, unnest(a[2:len(a)]) AS w
       |   FROM arr WHERE len(a) >= 2) AS z GROUP BY 1, 2),
       | pw AS (SELECT w, count(*) AS nplus_w FROM bg GROUP BY 1),
       | nt AS (SELECT count(*) AS n_types FROM bg),
       | g3 AS (SELECT
       |   CAST(sum(CASE WHEN c_uvw = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n1_3,
       |   CAST(sum(CASE WHEN c_uvw = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n2_3 FROM c3),
       | g2 AS (SELECT
       |   CAST(sum(CASE WHEN n_vw = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n1_2,
       |   CAST(sum(CASE WHEN n_vw = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n2_2 FROM cont)""".stripMargin.replace("\n", " ")

  /** cosine similarity SQL over double-cast embedding lists. */
  private def cosSql(a: String, b: String) =
    s"""(list_dot_product($a.embedding::DOUBLE[], $b.embedding::DOUBLE[]) /
       | (sqrt(list_dot_product($a.embedding::DOUBLE[], $a.embedding::DOUBLE[])) *
       |  sqrt(list_dot_product($b.embedding::DOUBLE[], $b.embedding::DOUBLE[]))))""".stripMargin.replace("\n", " ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir)).orderBy("doc_id")),
    "dedup_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignature(Tables.documents(s, dir), K).orderBy("doc_id")),
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashCandidates(
        Dedup.minhashSignature(Tables.documents(s, dir), K), BANDS, ROWS)
        .orderBy("doc_a", "doc_b")),
    "dedup_minhash_est" -> ((s, dir) =>
      Dedup.minhashEstimate(Tables.documents(s, dir), K, BANDS, ROWS)
        .orderBy("doc_a", "doc_b")),
    "dedup_threshold_curve" -> ((s, dir) =>
      Dedup.thresholdCurve(Tables.documents(s, dir), K, BANDS, ROWS)),
    "dedup_lsh_recall" -> ((s, dir) =>
      Dedup.lshRecall(Tables.documents(s, dir), col("doc_id") < 200,
        K, BANDS, ROWS)),
    "corpus_growth" -> ((s, dir) =>
      Corpus.growthCurve(Tables.documents(s, dir))),
    "corpus_vocab_growth" -> ((s, dir) =>
      Corpus.vocabGrowth(Tables.documents(s, dir))),
    "corpus_token_hist" -> ((s, dir) =>
      Corpus.tokenHistogram(Tables.documents(s, dir))),
    "corpus_quality_drift" -> ((s, dir) =>
      Corpus.qualityDrift(Tables.documents(s, dir))),
    "sim_embed_drift" -> ((s, dir) =>
      Similarity.embedDrift(Tables.embeddings(s, dir))),
    "sim_cos_hist" -> ((s, dir) =>
      Similarity.cosineHistogram(Tables.embeddings(s, dir))),
    "sim_pq_distortion" -> ((s, dir) =>
      Similarity.pqDistortion(Tables.embeddings(s, dir))),
    "sim_ivfpq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfpqAnn(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rk")
    }),
    "sim_kmeans_inertia" -> ((s, dir) =>
      Similarity.kmeansInertia(Tables.embeddings(s, dir))),
    "sim_nprobe_curve" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.nprobeCurve(emb, emb.where(col("vec_id") < 10))
    }),
    "dedup_bucket_stats" -> ((s, dir) =>
      Dedup.bucketStats(
        Dedup.minhashSignatureCached(Tables.documents(s, dir), K),
        BANDS, ROWS)),
    "sim_recall_curve" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.recallCurve(emb, emb.where(col("vec_id") < 10))
    }),
    "corpus_dup_sources" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Corpus.dupSources(docs, verifiedPairs(docs))
    }),
    // paragraph-level dedup over a deterministically paragraphized
    // corpus: the generator ships single-line docs, so the query
    // rebuilds each as blank-line-separated 12-word paragraphs (the
    // syntheticBmpMedia pattern — synthesize the container, exercise
    // the real decode/split path) before the CCNet-style
    // split → normalize → hash → first-occurrence pipeline runs
    "dedup_paragraphs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ws = split(col("text"), "\\s+")
      val para = docs.select(col("doc_id"),
        array_join(transform(
          sequence(lit(0L), floor((size(ws) - 1) / lit(12)).cast("long")),
          i => array_join(slice(ws, (i * 12 + 1).cast("int"), lit(12)), " ")),
          "\n\n").as("text"))
      Dedup.paragraphDedup(para).orderBy("doc_id")
    }),
    // incremental FUZZY dedup against the persisted LSH index: the
    // arriving batch (doc_id >= 400) probes the banded postings +
    // signature sidecar built over history (doc_id < 400) — history
    // text never read, batch-sized work only
    "store_dedup_probe" -> ((s, dir) => {
      val batch = Tables.documents(s, dir).where(col("doc_id") >= 400)
      graft.sources.MinHashStore.probe(s, mhTable(s, dir), batch,
        MIN_AGREE)
        .orderBy("doc_a", "doc_b")
    }),
    // the span-REMOVAL transformation (Lee et al.: drop duplicated
    // spans, keep the doc): emits the cleaned text itself
    "dedup_spans_remove" -> ((s, dir) =>
      Dedup.spanDedupRemove(Tables.documents(s, dir)).orderBy("doc_id")),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables.documents(s, dir)).orderBy("doc_id")),
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashCandidates(Dedup.simhash(Tables.documents(s, dir)), 8)
        .orderBy("doc_a", "doc_b")),
    "dedup_simhash_multi" -> ((s, dir) =>
      // exact-recall multi-index blocking: 5 fields ⇒ every pair
      // within hamming 4 guaranteed (the 2-half scheme is
      // probabilistic there)
      Dedup.simhashCandidatesMulti(
        Dedup.simhash(Tables.documents(s, dir)), 4, 5)
        .orderBy("doc_a", "doc_b")),
    "dedup_jaccard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // deterministic verification pair list: consecutive doc ids
      val pairs = docs.select(col("doc_id").as("doc_a"))
        .where(col("doc_a") < 100)
        .withColumn("doc_b", col("doc_a") + 1)
      Dedup.jaccardPairs(docs, pairs).orderBy("doc_a", "doc_b")
    }),
    "dedup_containment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = docs.select(col("doc_id").as("doc_a"))
        .where(col("doc_a") < 100)
        .withColumn("doc_b", col("doc_a") + 1)
      Dedup.containmentPairs(docs, pairs).orderBy("doc_a", "doc_b")
    }),
    "dedup_embed_cos" -> ((s, dir) =>
      Similarity.cosineNearDup(Tables.embeddings(s, dir), 0.40)
        .orderBy("id_a", "id_b")),
    "dedup_embed_lsh" -> ((s, dir) =>
      Similarity.cosineNearDupLsh(Tables.embeddings(s, dir), 0.40)
        .orderBy("id_a", "id_b")),
    "sim_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopK(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rk")
    }),
    // Artetxe & Schwenk ratio-margin pair mining across two label
    // classes (the CCMatrix bitext criterion)
    "sim_margin_mining" -> ((s, dir) =>
      Similarity.marginMining(Tables.embeddings(s, dir))),
    // the margin-mining SCALE path: every side-A vector mined over
    // LSH candidate neighborhoods (CCMatrix's production trade)
    "sim_margin_lsh" -> ((s, dir) =>
      Similarity.marginMiningLsh(Tables.embeddings(s, dir))),
    // BERTopic c-TF-IDF: top keywords per embedding-label cluster
    "corpus_ctfidf" -> ((s, dir) =>
      Similarity.clusterKeywords(
        Tables.documents(s, dir), Tables.embeddings(s, dir))),
    "sim_int8_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopKQuantized(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rk")
    }),
    // multi-probe LSH: one narrow bucketing, smallest-|margin| bit
    // flips as extra probes — lshAnn's recall at 1/tables the index
    "sim_multiprobe" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.multiProbeAnn(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rk")
    }),
    // operational skew audit of the md5 shard hash
    "corpus_shard_balance" -> ((s, dir) =>
      Corpus.shardBalance(Tables.documents(s, dir)).orderBy("shard")),
    // probe-depth calibration for the multi-probe index (nested
    // candidate sets: one probe join, per-depth entry filters)
    "sim_probe_curve" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.probeCurve(emb, emb.where(col("vec_id") < 10))
        .orderBy("probes")
    }),
    // bloom sizing card: measured FPR vs (1 - e^(-kn/m))^k per size
    "sketch_bloom_fpr" -> ((s, dir) =>
      Dedup.bloomFprCurve(Tables.documents(s, dir), col("doc_id") % 2 === 1)
        .orderBy("m_bits")),
    // deterministic k-center seeding: farthest-first traversal with
    // the k-center radius sequence as the diagnostic
    "sim_farthest_init" -> ((s, dir) =>
      Similarity.farthestFirstInit(Tables.embeddings(s, dir))
        .orderBy("rk")),
    // 1-bit compression tier: sign-packed words, Hamming candidates,
    // exact cosine re-rank of the bounded survivor set
    "sim_binary_quant" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.binaryHammingTopK(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rk")
    }),
    // Dirichlet-smoothed query-likelihood retrieval — the LM scoring
    // alternative to BM25 over the same inverted-index join
    "text_ql" -> ((s, dir) =>
      TextAnalysis.queryLikelihood(Tables.documents(s, dir),
        col("doc_id") < 10).orderBy("q_id", "s_rk")),
    // Rocchio PRF: top-5 expansion terms from the BM25 top-10 pool
    "text_rocchio" -> ((s, dir) =>
      TextAnalysis.rocchioExpansion(Tables.documents(s, dir),
        col("doc_id") < 10).orderBy("q_id", "rk")),
    // vector-space model: L2-normalized tf-idf cosine over the
    // df-pruned vocabulary, same DAAT posting join
    "sim_sparse_cos" -> ((s, dir) =>
      TextAnalysis.sparseCosineTopK(Tables.documents(s, dir),
        col("doc_id") < 10).orderBy("q_id", "s_rk")),
    // MMR diversity re-rank of the dense top-20 pool: greedy
    // λ·rel − (1−λ)·max-sim selection, bounded frames per round
    "sim_mmr" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.mmrRerank(emb, emb.where(col("vec_id") < 10))
        .orderBy("q_id", "step")
    }),
    // weighted reservoir sample (A-ES): per-source top-n by ln(u)/w
    "corpus_reservoir" -> ((s, dir) =>
      Corpus.reservoirSample(Tables.documents(s, dir))
        .orderBy("source", "rk")),
    "sim_pq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqAnn(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rk")
    }),
    "sim_ivf_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfAnn(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rk")
    }),
    // the same IVF search THROUGH the persisted index: first call in
    // a session pays the build (cell-partitioned table + model
    // sidecar), then every query is a pruned partition read — no
    // per-query corpus assignment. Byte-identical to sim_ivf_ann's
    // direct path, same oracle; VectorStoreSpec audits the
    // PartitionFilters pruning.
    "store_ann" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).where(col("vec_id") < 10)
      graft.sources.VectorStore.ivfAnn(s, vecTable(s, dir), q, 5)
        .orderBy("q_id", "rk")
    }),
    // ...and the IVF-PQ route over the same stored layout: probed
    // cells read ONLY (vec_id, codes) — the embedding column never
    // leaves storage — ADC-scored against the persisted codebook.
    // Byte-identical to sim_ivfpq_ann, same oracle.
    "store_ivfpq" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir).where(col("vec_id") < 10)
      graft.sources.VectorStore.ivfpqAnn(s, vecTable(s, dir), q, 5)
        .orderBy("q_id", "rk")
    }),
    "sim_lsh_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshAnn(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rk")
    }),
    "corpus_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Corpus.dupClusters(docs.select("doc_id"), verifiedPairs(docs))
        .orderBy("doc_id")
    }),
    "corpus_split" -> ((s, dir) =>
      Corpus.split(Tables.documents(s, dir)).orderBy("doc_id")),
    "corpus_dedup_savings" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Corpus.dedupSavings(docs, verifiedPairs(docs))
    }),
    "corpus_split_leakage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Corpus.splitLeakage(docs, verifiedPairs(docs)).orderBy("cluster_id")
    }),
    "corpus_manifest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Corpus.manifest(docs, verifiedPairs(docs)).orderBy("doc_id")
    }),
    "corpus_length_buckets" -> ((s, dir) =>
      Corpus.lengthBuckets(Tables.documents(s, dir)).orderBy("doc_id")),
    "corpus_source_report" -> ((s, dir) =>
      Corpus.sourceReport(Tables.documents(s, dir)).orderBy("source")),
    "sim_knn_label" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnClassify(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("q_id")
    }),
    "sim_hard_neg" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rk")
    }),
    "sim_embed_stats" -> ((s, dir) =>
      Similarity.embedStats(Tables.embeddings(s, dir)).orderBy("dim")),
    // top principal component by 8 rounds of power iteration over
    // the 6dp-rounded covariance (both engines iterate the same C)
    "sim_pca_power" -> ((s, dir) =>
      Similarity.pcaPower(Tables.embeddings(s, dir)).orderBy("pos")),
    // All-but-the-Top: center + remove the dominant component
    "sim_abtt" -> ((s, dir) =>
      Similarity.allButTop(Tables.embeddings(s, dir)).orderBy("vec_id")),
    // spectral gap: second component via Hotelling deflation
    "sim_pca_gap" -> ((s, dir) =>
      Similarity.pcaSpectrum(Tables.embeddings(s, dir)).orderBy("pos")),
    "sim_norm_outliers" -> ((s, dir) =>
      Similarity.normOutliers(Tables.embeddings(s, dir)).orderBy("vec_id")),
    "sim_label_balance" -> ((s, dir) =>
      Similarity.labelBalance(Tables.embeddings(s, dir))),
    "corpus_boilerplate" -> ((s, dir) =>
      Corpus.boilerplate(Tables.documents(s, dir)).orderBy("rank")),
    "sim_pq_refined" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // one Lloyd refinement round on the codebooks — the trained
      // path of pqAnn, previously spec-only, now oracle-gated
      Similarity.pqAnn(emb, emb.where(col("vec_id") < 10), 5, refine = 1)
        .orderBy("q_id", "rk")
    }),
    "sim_rp_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.rpRecall(emb, emb.where(col("vec_id") < 10), 5,
        dimIn = 64, dOut = 16).orderBy("q_id")
    }),
    "sim_dim_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.dimRecall(emb, emb.where(col("vec_id") < 10), 5, 32)
        .orderBy("q_id")
    }),
    "corpus_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Corpus.decontaminate(docs, docs.where(col("doc_id") < 25), 0.5)
        .orderBy("doc_id")
    }),
    // exact-substring decontamination (the GPT-3/Lee-et-al.
    // precision form): verbatim ≥{8,16,32,64}-char overlap with the
    // doc_id<25 eval split, per train doc, over the shared suffix
    // doubling chain
    "corpus_decontam_exact" -> ((s, dir) =>
      Dedup.exactDecontam(Tables.documents(s, dir), col("doc_id") < 25)
        .orderBy("doc_id", "prefix_len")),
    // the removal card: every 32-char window shared verbatim with the
    // eval split is cut; covered chars = union of hit windows capped
    // at the doc tail
    "corpus_decontam_remove" -> ((s, dir) =>
      Dedup.exactDecontamRemove(Tables.documents(s, dir),
        col("doc_id") < 25).orderBy("doc_id")),
    "dedup_spans" -> ((s, dir) =>
      Dedup.spanDedup(Tables.documents(s, dir)).orderBy("doc_id")),
    "corpus_chunks" -> ((s, dir) =>
      Corpus.chunk(Tables.documents(s, dir), 64, 16)
        .orderBy("doc_id", "chunk_idx")),
    "sim_kmeans" -> ((s, dir) =>
      Similarity.kmeans(Tables.embeddings(s, dir)).orderBy("vec_id")),
    "sim_centroid_label" -> ((s, dir) =>
      Similarity.centroidClassify(Tables.embeddings(s, dir),
        col("vec_id") >= 100).orderBy("vec_id")),
    "corpus_domains" -> ((s, dir) =>
      Similarity.domainReport(Tables.embeddings(s, dir)).orderBy("cluster")),
    // D4's diversification phase (Tirumala et al. 2023): after
    // SemDeDup (dedup_semantic), drop each cluster's most
    // prototypical quarter — the boilerplate core near-dup removal
    // can't see
    "corpus_d4" -> ((s, dir) =>
      Similarity.d4Select(Tables.embeddings(s, dir)).orderBy("vec_id")),
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticNearDup(Tables.embeddings(s, dir), 0.40)
        .orderBy("id_a", "id_b")),
    "corpus_vocab" -> ((s, dir) =>
      Corpus.vocabulary(Tables.documents(s, dir)).orderBy("rank")),
    // interpolated Kneser-Ney bigram LM: top bigrams with the full
    // factorization, and per-doc self-perplexity under that model
    "corpus_kn_lm" -> ((s, dir) =>
      Corpus.knBigramLm(Tables.documents(s, dir))),
    // full recursive trigram KN with continuation-count backoff
    "corpus_kn3_lm" -> ((s, dir) =>
      Corpus.knTrigramLm(Tables.documents(s, dir))),
    "corpus_kn3_ppl" -> ((s, dir) =>
      Corpus.knTrigramPerplexity(Tables.documents(s, dir))),
    "corpus_kn_ppl" -> ((s, dir) =>
      Corpus.knPerplexity(Tables.documents(s, dir))),
    "corpus_heaps" -> ((s, dir) =>
      Corpus.heapsFit(Tables.documents(s, dir))),
    "corpus_lang_mismatch" -> ((s, dir) =>
      TextAnalysis.langMismatch(Tables.documents(s, dir)).orderBy("source")),
    "corpus_lang_confusion" -> ((s, dir) =>
      TextAnalysis.langConfusion(Tables.documents(s, dir))),
    "corpus_zipf" -> ((s, dir) =>
      Corpus.zipfFit(Tables.documents(s, dir))),
    "corpus_card" -> ((s, dir) =>
      Corpus.card(Tables.documents(s, dir))),
    "corpus_cluster_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Corpus.clusterSizeStats(docs.select("doc_id"), verifiedPairs(docs))
        .orderBy("cluster_size")
    }),
    "corpus_overlap" -> ((s, dir) =>
      Corpus.sourceOverlap(Tables.documents(s, dir))
        .orderBy("src_a", "src_b")),
    "corpus_mixture" -> ((s, dir) =>
      Corpus.mixtureSample(Tables.documents(s, dir),
        Map("src0" -> 300, "src1" -> 200, "src2" -> 100),
        defaultPermille = 25, budgetTokens = 2000L)
        .orderBy("doc_id")),
    "text_entropy" -> ((s, dir) =>
      TextAnalysis.unigramEntropy(Tables.documents(s, dir)).orderBy("doc_id")),
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfKeywords(Tables.documents(s, dir))
        .orderBy("doc_id", "rk")),
    "text_perplexity" -> ((s, dir) =>
      TextAnalysis.unigramCrossEntropy(Tables.documents(s, dir))
        .orderBy("doc_id")),
    "text_bigram" -> ((s, dir) =>
      TextAnalysis.bigramCrossEntropy(Tables.documents(s, dir))
        .orderBy("doc_id")),
    "text_kn" -> ((s, dir) =>
      TextAnalysis.knBigramCrossEntropy(Tables.documents(s, dir))
        .orderBy("doc_id")),
    "text_readability" -> ((s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir)).orderBy("doc_id")),
    // inclusion-exclusion overlap from register algebra (|A∩B| from
    // 256 ints/pair), exact intersection as calibration column
    "corpus_hll_overlap" -> ((s, dir) =>
      Sketches.hllOverlap(Tables.documents(s, dir))
        .orderBy("source_a", "source_b")),
    "corpus_hll" -> ((s, dir) =>
      Sketches.hllDistinct(Tables.documents(s, dir))),
    "corpus_cms" -> ((s, dir) =>
      Sketches.cmsHeavyHitters(Tables.documents(s, dir))),
    "corpus_pmi" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, dir))),
    "dedup_winnow" -> ((s, dir) =>
      Dedup.winnowPairs(Tables.documents(s, dir))),
    "sketch_quantile" -> ((s, dir) =>
      Sketches.quantileSketch(Tables.events(s, dir))),
    "sketch_dd" -> ((s, dir) =>
      Sketches.ddSketch(Tables.events(s, dir))),
    "corpus_softdedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Corpus.softDedup(docs, verifiedPairs(docs))
    }),
    "sim_rrf" -> ((s, dir) =>
      Similarity.rrfFusion(Tables.documents(s, dir),
        Tables.embeddings(s, dir))),
    "text_classifier_eval" -> ((s, dir) =>
      TextAnalysis.classifierEval(Tables.documents(s, dir))),
    "text_calibration" -> ((s, dir) =>
      TextAnalysis.calibration(Tables.documents(s, dir),
        col("lang") === "en")),
    "dedup_suffix_spectrum" -> ((s, dir) =>
      Dedup.suffixSpectrum(Tables.documents(s, dir))),
    "dedup_suffix_repeats" -> ((s, dir) =>
      Dedup.suffixRepeats(Tables.documents(s, dir))),
    "dedup_suffix_spectrum_sketch" -> ((s, dir) =>
      Dedup.suffixSpectrumSketch(Tables.documents(s, dir))),
    "dedup_suffix_repeats_sketch" -> ((s, dir) =>
      Dedup.suffixRepeatsSketch(Tables.documents(s, dir))),
    "dedup_lsh_design" -> ((s, _) => Dedup.lshDesign(s)),
    "sim_retrieval_eval" -> ((s, dir) =>
      Similarity.retrievalEval(Tables.embeddings(s, dir))),
    "corpus_signal_corr" -> ((s, dir) =>
      TextAnalysis.signalCorrelation(Tables.documents(s, dir))),
    // distinct estimate served from the PERSISTED register table
    // (built in two appended halves — the read-time max-merge is
    // always on the path); byte-identical to corpus_hll, same oracle
    "store_hll" -> ((s, dir) =>
      graft.sources.SketchStore.estimate(s, sketchTable(s, dir),
        Tables.documents(s, dir))),
    "store_dd" -> ((s, dir) =>
      graft.sources.SketchStore.ddEstimate(s, ddTable(s, dir),
        Tables.events(s, dir))),
    // 7-row spectrum served from the PERSISTED cell table (two
    // appended halves — the mixed max/sum read-merge is always on
    // the path); byte-identical to dedup_suffix_spectrum_sketch,
    // same oracle
    "store_spectrum" -> ((s, dir) =>
      graft.sources.SketchStore.spectrum(s, spectrumTable(s, dir))),
    "text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(Tables.documents(s, dir), BM25_TERMS)
        .orderBy("doc_id")),
    "text_c4" -> ((s, dir) =>
      TextAnalysis.c4Filters(Tables.documents(s, dir)).orderBy("doc_id")),
    "corpus_dsir" -> ((s, dir) =>
      Corpus.dsirWeights(Tables.documents(s, dir), col("doc_id") < 25)
        .orderBy("doc_id")),
    "corpus_bpe" -> ((s, dir) =>
      TextAnalysis.bpePairStats(Tables.documents(s, dir)).orderBy("rank")),
    "corpus_bpe_train" -> ((s, dir) =>
      TextAnalysis.bpeTrain(Tables.documents(s, dir), rounds = 8)),
    // WordPiece: same merge loop, likelihood-scored argmax
    "corpus_wordpiece_train" -> ((s, dir) =>
      TextAnalysis.wordpieceTrain(Tables.documents(s, dir), rounds = 8)),
    // SentencePiece-style unigram-LM trainer: over-complete substring
    // seed pruned down over EM-style rounds (greedy longest-match
    // E-step — integer control path, fully oracle-replayable)
    "corpus_unigram_train" -> ((s, dir) =>
      Unigram.train(Tables.documents(s, dir))),
    // ...and its APPLICATION: tokenize the corpus with the trained
    // vocab — per-word piece costs computed once on the distinct
    // word table, broadcast back to the exploded doc words
    "corpus_unigram_encode" -> ((s, dir) =>
      Unigram.encode(Tables.documents(s, dir))),
    // the two trained tokenizers compared: per-language fertility
    "corpus_fertility" -> ((s, dir) =>
      Corpus.tokenizerFertility(Tables.documents(s, dir)).orderBy("lang")),
    "corpus_bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncode(Tables.documents(s, dir), rounds = 8)),
    "text_langid" -> ((s, dir) =>
      TextAnalysis.languageId(Tables.documents(s, dir)).orderBy("doc_id")),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.quality(Tables.documents(s, dir)).orderBy("doc_id")),
    "text_redact" -> ((s, dir) =>
      TextAnalysis.redactPii(Tables.documents(s, dir)).orderBy("doc_id")),
    "text_gopher" -> ((s, dir) =>
      TextAnalysis.gopherQuality(Tables.documents(s, dir)).orderBy("doc_id")),
    "text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenCount(Tables.documents(s, dir)).orderBy("doc_id")),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir)).orderBy("doc_id")),
    "mm_meta" -> ((s, dir) =>
      Multimodal.syntheticMedia(Tables.documents(s, dir))
        .select("media_id", "kind", "meta_codec", "meta_bytes")
        .orderBy("media_id")),
    "mm_decode" -> ((s, dir) =>
      // real end-to-end image decode: encode genuine BMP bytes per
      // doc, parse them back with the pure-JVM kernel; the oracle
      // replays the doc_id-derived geometry arithmetic — any header
      // mis-parse shows up as a dimension mismatch
      Multimodal.extractFeatures(
        Multimodal.syntheticBmpMedia(Tables.documents(s, dir)))
        .select("media_id", "kind", "width", "height", "n_frames", "meta_bytes")
        .orderBy("media_id")),
    "mm_video" -> ((s, dir) =>
      // real end-to-end video decode, same shape as mm_decode/mm_audio:
      // genuine RIFF/AVI bytes per doc, parsed back by the pure-JVM
      // kernel; the oracle replays the doc_id-derived geometry
      Multimodal.extractVideoFeatures(
        Multimodal.syntheticAviMedia(Tables.documents(s, dir)))
        .select("media_id", "width", "height", "n_frames", "fps",
          "duration_ms", "meta_bytes")
        .orderBy("media_id")),
    "mm_audio" -> ((s, dir) =>
      // real end-to-end audio decode, same shape as mm_decode:
      // genuine RIFF/WAVE bytes per doc, parsed back by the pure-JVM
      // kernel; the oracle replays the doc_id-derived geometry
      Multimodal.extractAudioFeatures(
        Multimodal.syntheticWavMedia(Tables.documents(s, dir)))
        .select("media_id", "n_channels", "sample_rate", "n_samples",
          "duration_ms", "meta_bytes")
        .orderBy("media_id")),
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, dir))
        .orderBy("doc_id")),
    "corpus_canonical" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Corpus.canonicalPick(docs, verifiedPairs(docs)).orderBy("doc_id")
    }),
    "corpus_pack_fold" -> ((s, dir) =>
      Corpus.packFold(Tables.documents(s, dir))),
    "corpus_pack" -> ((s, dir) =>
      Corpus.packSequences(Tables.documents(s, dir)).orderBy("doc_id")),
    "dedup_incremental" -> ((s, dir) =>
      // even doc_ids play the already-ingested history, odd ids the
      // arriving batch — fraction-independent so every SF exercises
      // both novel and history-hit paths
      Dedup.incremental(Tables.documents(s, dir), col("doc_id") % 2 === 1)
        .orderBy("doc_id")),
    "corpus_decontam_embed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.decontaminateEmbed(
        emb.where(col("vec_id") >= 25), emb.where(col("vec_id") < 25), 0.40)
        .orderBy("vec_id")
    }),
    "dedup_bloom" -> ((s, dir) =>
      // same even/odd history/batch split as dedup_incremental, but
      // the probe goes through the fixed-size bloom bitmap
      Dedup.bloomDedup(Tables.documents(s, dir), col("doc_id") % 2 === 1)
        .orderBy("doc_id")),
    "text_normalize" -> ((s, dir) =>
      TextAnalysis.normalize(Tables.documents(s, dir)).orderBy("doc_id")),
    "corpus_shuffle" -> ((s, dir) =>
      Corpus.shuffleOrder(Tables.documents(s, dir), seed = 7L)
        .orderBy("doc_id")),
    "corpus_curriculum" -> ((s, dir) =>
      Corpus.curriculum(Tables.documents(s, dir), stages = 4, seed = 3L)
        .orderBy("doc_id")),
    "corpus_source_kl" -> ((s, dir) =>
      Corpus.sourceKl(Tables.documents(s, dir)).orderBy("source")),
    // DoReMi one-round domain reweighting: excess loss between the
    // engine's own reference (unigram) and proxy (bigram) LMs
    "corpus_doremi" -> ((s, dir) =>
      Corpus.doremiWeights(Tables.documents(s, dir)).orderBy("source")),
    "corpus_temperature" -> ((s, dir) =>
      Corpus.temperatureMixture(Tables.documents(s, dir)).orderBy("source")),
    "corpus_epochs" -> ((s, dir) =>
      Corpus.dataConstrainedEpochs(Tables.documents(s, dir))),
    // CCNet head/middle/tail perplexity terciles per language
    "corpus_ccnet" -> ((s, dir) =>
      Corpus.ccnetBuckets(Tables.documents(s, dir)).orderBy("doc_id")),
    // PSI distribution drift: second arrival half vs first
    "corpus_psi" -> ((s, dir) =>
      Corpus.psiDrift(Tables.documents(s, dir))
        .orderBy("source", "bucket")),
    // UniMax water-filling: budget + epoch cap chosen so the corpus
    // splits into capped small languages and one uncapped big one
    "corpus_unimax" -> ((s, dir) =>
      Corpus.unimaxAllocate(Tables.documents(s, dir),
        budgetTokens = 40000L, epochCap = 2).orderBy("rank")),
    "corpus_ccnet_stats" -> ((s, dir) =>
      Corpus.ccnetStats(Tables.documents(s, dir))
        .orderBy("lang", "ccnet_bucket")),
    "corpus_sample" -> ((s, dir) =>
      Corpus.stratifiedSample(Tables.documents(s, dir), k = 10, seed = 0L)
        .orderBy("source", "rk")),
    "corpus_select" -> ((s, dir) =>
      Corpus.budgetSelect(Tables.documents(s, dir), budgetTokens = 25000L)
        .orderBy("rank")),
    "corpus_pack_stats" -> ((s, dir) =>
      Corpus.packStats(Tables.documents(s, dir)).orderBy("shard")),
    "corpus_funnel" -> ((s, dir) =>
      Corpus.filterFunnel(Tables.documents(s, dir)).orderBy("stage")),
    "text_novelty" -> ((s, dir) =>
      TextAnalysis.noveltyScore(Tables.documents(s, dir)).orderBy("doc_id")),
    "text_classifier" -> ((s, dir) =>
      TextAnalysis.qualityClassifier(Tables.documents(s, dir))
        .orderBy("doc_id")),
    "text_classifier_train" -> ((s, dir) =>
      TextAnalysis.trainClassifier(Tables.documents(s, dir))),
    // EL2N-style pruning-score deciles per source (error norm under
    // the trained classifier's rounded weights)
    "corpus_el2n" -> ((s, dir) =>
      TextAnalysis.pruningScores(Tables.documents(s, dir))),
    "mm_channel_stats" -> ((s, dir) =>
      Multimodal.channelStats(
        Multimodal.syntheticBmpMedia(Tables.documents(s, dir)))
        .orderBy("media_id")),
    // REAL-format decode: PNG through javax.imageio (lossless, so the
    // decoded channel sums replay the generator's xorshift stream
    // bit-for-bit in the oracle)
    "mm_png" -> ((s, dir) =>
      Multimodal.imageChannelStats(
        Multimodal.syntheticPngMedia(Tables.documents(s, dir)))
        .orderBy("media_id")),
    // REAL-format decode: JPEG (lossy — the oracle pins exact
    // geometry and the bounded-drift contract flag)
    "mm_jpeg" -> ((s, dir) =>
      Multimodal.jpegDrift(
        Multimodal.syntheticJpegMedia(Tables.documents(s, dir)))
        .orderBy("media_id")),
    // REAL-format decode: TIFF carrying the SAME pixels as mm_png —
    // the cross-container check (identical decoded stats, oracle
    // reused verbatim)
    "mm_tiff" -> ((s, dir) =>
      Multimodal.imageChannelStats(
        Multimodal.syntheticTiffMedia(Tables.documents(s, dir)))
        .orderBy("media_id")),
    // REAL-format decode: GIF (palette-indexed grayscale — lossless
    // roundtrip, one stream byte per pixel in the oracle replay)
    "mm_gif" -> ((s, dir) =>
      Multimodal.grayStats(
        Multimodal.syntheticGifMedia(Tables.documents(s, dir)))
        .orderBy("media_id")),
    "mm_blur" -> ((s, dir) =>
      Multimodal.blurStats(
        Multimodal.syntheticBmpMedia(Tables.documents(s, dir)))
        .orderBy("media_id")),
    // byte-histogram Shannon entropy: flat/synthetic image detector
    "mm_entropy" -> ((s, dir) =>
      Multimodal.imageEntropy(
        Multimodal.syntheticBmpMedia(Tables.documents(s, dir)))
        .orderBy("media_id")),
    "mm_phash" -> ((s, dir) =>
      // perceptual image hash over genuinely decoded BMP pixels; the
      // oracle replays the ENTIRE path bit-exactly in SQL — the
      // encoder's xorshift64 pixel stream (recursive CTE with
      // HUGEINT-emulated wrapping shifts), the padded bottom-up row
      // layout, the 8x8 cell sums and the integer threshold
      Multimodal.imageHashes(
        Multimodal.syntheticBmpMedia(Tables.documents(s, dir)))
        .select(col("media_id"), col("width"), col("height"),
          format_string("%016x", col("phash")).as("phash_hex"))
        .orderBy("media_id")),
    "mm_resize" -> ((s, dir) =>
      // nearest-neighbor thumbnail over genuinely decoded BMP pixels,
      // re-encoded as a real BMP; the integer index math means the
      // oracle replays the resample over the same xorshift byte
      // stream and pins every output byte via the position-weighted
      // checksum
      Multimodal.resizeImages(
        Multimodal.syntheticBmpMedia(Tables.documents(s, dir)))
        .orderBy("media_id")),
    "mm_resample" -> ((s, dir) =>
      // PCM16 length normalization to 200 frames over genuinely
      // decoded WAVs, re-encoded as real WAVs; integer frame index
      // math → the oracle replays the resample over the same
      // xorshift byte stream, position-weighted checksum pins every
      // output byte
      Multimodal.resampleAudio(
        Multimodal.syntheticWavMedia(Tables.documents(s, dir)))
        .orderBy("media_id")),
    // brightness-delta scene-change card over decoded frame prefix
    "mm_video_quality" -> ((s, dir) =>
      Multimodal.videoQuality(
        Multimodal.syntheticAviMedia(Tables.documents(s, dir)))
        .orderBy("media_id")),
    // silence/clipping/RMS curation gates over decoded PCM16
    "mm_audio_quality" -> ((s, dir) =>
      Multimodal.audioQuality(
        Multimodal.syntheticWavMedia(Tables.documents(s, dir)))
        .orderBy("media_id")),
    "mm_audio_fp" -> ((s, dir) =>
      // energy-envelope audio fingerprint over decoded PCM16 — same
      // bit-exact xorshift-replay oracle pattern as mm_phash
      Multimodal.audioFingerprints(
        Multimodal.syntheticWavMedia(Tables.documents(s, dir)))
        .select(col("media_id"), col("n_channels"), col("n_samples"),
          format_string("%016x", col("afp")).as("afp_hex"))
        .orderBy("media_id")),
    "mm_video_fp" -> ((s, dir) =>
      // brightness-envelope video fingerprint over the capped frame
      // stream — completes the image/audio/video fingerprint family
      Multimodal.videoFingerprints(
        Multimodal.syntheticAviMedia(Tables.documents(s, dir)))
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), format_string("%016x", col("vfp")).as("vfp_hex"))
        .orderBy("media_id"))
  )

  /** The stored ANN routes are byte-identical to their direct paths
    * by construction, so they share the direct paths' oracle SQL
    * verbatim — the strongest possible equivalence statement the
    * gate can check. */
  lazy val oracles: Map[String, String] = oracleBase ++ Map(
    "store_ann" -> oracleBase("sim_ivf_ann"),
    "store_spectrum" -> oracleBase("dedup_suffix_spectrum_sketch"),
    "mm_tiff" -> oracleBase("mm_png"),
    "store_ivfpq" -> oracleBase("sim_ivfpq_ann"),
    "store_hll" -> oracleBase("corpus_hll"),
    "store_dd" -> oracleBase("sketch_dd"))

  private val oracleBase: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS content_md5,
        | row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank,
        | CAST(row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS INT) AS is_dup
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "dedup_minhash_sig" -> s"$SIG ORDER BY doc_id",
    "dedup_minhash" ->
      s"""WITH sig AS ($SIG), banded AS ($BANDED),
         | capped AS (SELECT doc_id, band, bucket FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded) AS z
         |  WHERE bsz <= $MAX_BUCKET)
         | $PAIRS ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " "),
    "dedup_simhash" -> s"SELECT * FROM ($SIMHASH_FP) AS fp ORDER BY doc_id",
    "dedup_simhash_pairs" ->
      s"""WITH fp AS ($SIMHASH_FP),
         | banded0 AS (
         |  SELECT doc_id, simhash_v, 0 AS half, fp_lo AS block FROM fp
         |  UNION ALL
         |  SELECT doc_id, simhash_v, 1 AS half, fp_hi AS block FROM fp),
         | banded AS (
         |  SELECT doc_id, simhash_v, half, block FROM (
         |   SELECT *, count(*) OVER (PARTITION BY half, block) AS bsz
         |   FROM banded0) AS c WHERE bsz <= 1000)
         | SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |  CAST(bit_count(xor(l.simhash_v, r.simhash_v)) AS BIGINT) AS hamming_v
         | FROM banded AS l JOIN banded AS r
         |  ON l.half = r.half AND l.block = r.block AND l.doc_id < r.doc_id
         | WHERE bit_count(xor(l.simhash_v, r.simhash_v)) <= 8
         | ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " "),
    "dedup_simhash_multi" -> {
      // 5 bit fields of the 64-bit fingerprint (12,12,12,12,16 wide);
      // DuckDB's >> on BIGINT is arithmetic, but masking to the field
      // width makes it equal the logical shift for lo+w <= 64
      val fields = (0 until 5).map { b =>
        val lo = b * 12
        val w = if (b == 4) 16 else 12
        s"SELECT doc_id, simhash_v, $b AS half, (simhash_v >> $lo) & ${(1L << w) - 1} AS block FROM fp"
      }.mkString(" UNION ALL ")
      s"""WITH fp AS ($SIMHASH_FP),
         | banded0 AS ($fields),
         | banded AS (
         |  SELECT doc_id, simhash_v, half, block FROM (
         |   SELECT *, count(*) OVER (PARTITION BY half, block) AS bsz
         |   FROM banded0) AS c WHERE bsz <= 1000)
         | SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |  CAST(bit_count(xor(l.simhash_v, r.simhash_v)) AS BIGINT) AS hamming_v
         | FROM banded AS l JOIN banded AS r
         |  ON l.half = r.half AND l.block = r.block AND l.doc_id < r.doc_id
         | WHERE bit_count(xor(l.simhash_v, r.simhash_v)) <= 4
         | ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " ")
    },
    "dedup_lsh_recall" -> {
      s"""WITH sig AS ($SIG), banded AS ($BANDED),
         | capped AS (SELECT doc_id, band, bucket FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded) AS z
         |  WHERE bsz <= $MAX_BUCKET),
         | cands AS ($PAIRS),
         | ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
         | pp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ids AS a JOIN ids AS b ON a.doc_id < b.doc_id),
         | sh AS (SELECT DISTINCT doc_id, h FROM ($H) AS hh),
         | sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         | inter AS (SELECT pp.doc_a, pp.doc_b, count(*) AS inter_sz FROM pp
         |  JOIN sh AS a ON a.doc_id = pp.doc_a
         |  JOIN sh AS b ON b.doc_id = pp.doc_b AND b.h = a.h
         |  GROUP BY pp.doc_a, pp.doc_b),
         | ja AS (SELECT pp.doc_a, pp.doc_b,
         |  round(coalesce(i.inter_sz, 0)::DOUBLE /
         |    (sa.sz + sb.sz - coalesce(i.inter_sz, 0))::DOUBLE, 6) AS jaccard_v
         |  FROM pp LEFT JOIN inter AS i ON i.doc_a = pp.doc_a AND i.doc_b = pp.doc_b
         |  JOIN sz AS sa ON sa.doc_id = pp.doc_a
         |  JOIN sz AS sb ON sb.doc_id = pp.doc_b),
         | tl AS (SELECT unnest([0.5, 0.7, 0.9]) AS threshold),
         | jc AS (SELECT ja.doc_a, ja.doc_b, ja.jaccard_v,
         |  CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM ja LEFT JOIN cands AS c
         |   ON c.doc_a = ja.doc_a AND c.doc_b = ja.doc_b),
         | g AS (SELECT threshold, count(*) AS n_true,
         |  CAST(sum(hit) AS BIGINT) AS n_found
         |  FROM jc, tl WHERE jc.jaccard_v >= threshold GROUP BY threshold)
         | SELECT tl.threshold, coalesce(g.n_true, 0) AS n_true,
         |  coalesce(g.n_found, 0) AS n_found,
         |  CASE WHEN coalesce(g.n_true, 0) = 0 THEN NULL
         |   ELSE round(g.n_found / g.n_true, 6) END AS recall
         | FROM tl LEFT JOIN g USING (threshold)
         | ORDER BY tl.threshold""".stripMargin.replace("\n", " ")
    },
    "dedup_threshold_curve" -> {
      s"""WITH sig AS ($SIG), banded AS ($BANDED),
         | capped AS (SELECT doc_id, band, bucket FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded) AS z
         |  WHERE bsz <= $MAX_BUCKET),
         | p AS ($PAIRS),
         | sh AS (SELECT DISTINCT doc_id, h FROM ($H) AS hh),
         | sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         | inter AS (SELECT p.doc_a, p.doc_b, count(*) AS inter_sz FROM p
         |  JOIN sh AS a ON a.doc_id = p.doc_a
         |  JOIN sh AS b ON b.doc_id = p.doc_b AND b.h = a.h
         |  GROUP BY p.doc_a, p.doc_b),
         | ja AS (SELECT p.doc_a, p.doc_b,
         |  round(coalesce(i.inter_sz, 0)::DOUBLE /
         |    (sa.sz + sb.sz - coalesce(i.inter_sz, 0))::DOUBLE, 6) AS jaccard_v
         |  FROM p LEFT JOIN inter AS i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |  JOIN sz AS sa ON sa.doc_id = p.doc_a
         |  JOIN sz AS sb ON sb.doc_id = p.doc_b),
         | tl AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
         | np AS (SELECT threshold, count(*) AS n_pairs FROM ja, tl
         |  WHERE jaccard_v >= threshold GROUP BY threshold),
         | nd AS (SELECT threshold, count(*) AS n_docs FROM (
         |  SELECT DISTINCT threshold, d FROM (
         |   SELECT threshold, unnest([doc_a, doc_b]) AS d FROM ja, tl
         |   WHERE jaccard_v >= threshold) AS u) AS v GROUP BY threshold)
         | SELECT tl.threshold, coalesce(np.n_pairs, 0) AS n_pairs,
         |  coalesce(nd.n_docs, 0) AS n_docs
         | FROM tl LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
         | ORDER BY tl.threshold""".stripMargin.replace("\n", " ")
    },
    "corpus_quality_drift" -> {
      val allSw = TextAnalysis.stopwords.values.flatten.toSeq.distinct
        .map(s => s"'$s'").mkString(", ")
      s"""WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         | q AS (SELECT source,
         |  least(((doc_id - lo) * 5) // (hi - lo + 1), 4) AS bucket,
         |  round((least(length(text)::DOUBLE / 500.0, 1.0)
         |   + len(list_distinct(ws))::DOUBLE / len(ws)
         |   + least(len(list_filter(ws, x -> list_contains([$allSw], x)))::DOUBLE
         |       / len(ws) * 4, 1.0)) / 3.0, 6) AS qs
         |  FROM (SELECT doc_id, source, text,
         |    string_split_regex(lower(text), '\\s+') AS ws FROM documents), b),
         | g AS (SELECT source, bucket, count(*) AS n_docs,
         |   round(avg(qs), 6) AS mean_quality FROM q GROUP BY 1, 2),
         | base AS (SELECT source, mean_quality AS q0 FROM g WHERE bucket = 0)
         | SELECT g.source, g.bucket, g.n_docs, g.mean_quality,
         |  round(g.mean_quality - base.q0, 6) AS drift_vs_first
         | FROM g LEFT JOIN base ON base.source = g.source
         | ORDER BY g.source, g.bucket""".stripMargin.replace("\n", " ")
    },
    "sim_embed_drift" ->
      """WITH m AS (SELECT (min(vec_id) + max(vec_id)) / 2.0 AS mid
        |  FROM embeddings),
        | x AS (SELECT vec_id <= m.mid AS first_half, j,
        |  (embedding::DOUBLE[])[j] AS v
        |  FROM embeddings, m CROSS JOIN
        |   (SELECT unnest(generate_series(1, 64)) AS j) AS d),
        | g AS (SELECT j AS dim,
        |  round(avg(CASE WHEN first_half THEN v END), 6) AS mean_a,
        |  round(avg(CASE WHEN NOT first_half THEN v END), 6) AS mean_b,
        |  stddev_pop(v) AS sd FROM x GROUP BY j)
        | SELECT dim, mean_a, mean_b,
        |  round(mean_b - mean_a, 6) AS delta,
        |  CASE WHEN sd = 0 THEN NULL
        |   ELSE round((mean_b - mean_a) / sd, 6) END AS drift_z
        | FROM g ORDER BY dim""".stripMargin.replace("\n", " "),
    "corpus_token_hist" ->
      """WITH t AS (SELECT CAST(list_sum(list_transform(
        |   string_split_regex(lower(text), '\s+'),
        |   w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS t
        |  FROM documents)
        | SELECT CAST(floor(log2(t)) AS BIGINT) AS bucket,
        |  CAST(pow(2.0, floor(log2(t))) AS BIGINT) AS bucket_lo,
        |  count(*) AS n_docs
        | FROM t WHERE t > 0 GROUP BY 1, 2 ORDER BY bucket""".stripMargin.replace("\n", " "),
    "corpus_vocab_growth" ->
      """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        | bw AS (SELECT least(((doc_id - lo) * 10) // (hi - lo + 1), 9) AS bucket,
        |  unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents, b),
        | fs AS (SELECT bucket, count(*) AS n_new_words FROM (
        |  SELECT w, min(bucket) AS bucket FROM bw GROUP BY w) AS f
        |  GROUP BY bucket),
        | tk AS (SELECT bucket, count(*) AS n_tokens FROM bw GROUP BY bucket)
        | SELECT tk.bucket, tk.n_tokens,
        |  coalesce(fs.n_new_words, 0) AS n_new_words,
        |  CAST(sum(coalesce(fs.n_new_words, 0)) OVER (ORDER BY tk.bucket
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum,
        |  round(coalesce(fs.n_new_words, 0)::DOUBLE / tk.n_tokens, 6)
        |   AS novelty_rate
        | FROM tk LEFT JOIN fs USING (bucket)
        | ORDER BY tk.bucket""".stripMargin.replace("\n", " "),
    "corpus_growth" ->
      """WITH f AS (SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1
        |    AS INT) AS is_dup FROM documents),
        | b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        | g AS (SELECT least(((doc_id - lo) * 10) // (hi - lo + 1), 9) AS bucket,
        |  count(*) AS n_docs, CAST(sum(is_dup) AS BIGINT) AS n_dups
        |  FROM f, b GROUP BY 1)
        | SELECT bucket, n_docs, n_dups,
        |  round(n_dups::DOUBLE / n_docs, 6) AS dup_frac,
        |  round((sum(n_dups) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING))::DOUBLE
        |   / (sum(n_docs) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)), 6)
        |   AS cum_dup_frac
        | FROM g ORDER BY bucket""".stripMargin.replace("\n", " "),
    "sim_kmeans_inertia" -> KMEANS_INERTIA_SQL,
    "sim_nprobe_curve" ->
      s"""WITH cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
         |   embedding::DOUBLE[] AS cemb
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         | cd AS (SELECT e.vec_id, c.ci,
         |   list_dot_product(c.cemb, c.cemb)
         |    - 2 * list_dot_product(e.embedding::DOUBLE[], c.cemb) AS d
         |  FROM embeddings AS e CROSS JOIN cents AS c),
         | cellof AS (SELECT vec_id, ci AS cell FROM (
         |  SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d ASC, ci ASC) AS rn FROM cd) AS t WHERE rn = 1),
         | qp AS (SELECT vec_id AS q_id, ci AS cell, rn FROM (
         |  SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d ASC, ci ASC) AS rn FROM cd WHERE vec_id < 10) AS t
         |  WHERE rn <= 8),
         | np AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
         | cands AS (SELECT DISTINCT np.nprobe, q.q_id, co.vec_id AS c_id
         |  FROM qp AS q JOIN cellof AS co ON co.cell = q.cell, np
         |  WHERE q.rn <= np.nprobe AND co.vec_id <> q.q_id),
         | annk AS (SELECT nprobe, q_id, c_id FROM (
         |  SELECT nprobe, q_id, c_id, row_number() OVER (
         |    PARTITION BY nprobe, q_id ORDER BY cos DESC, c_id ASC) AS rk
         |  FROM (SELECT cands.nprobe, cands.q_id, cands.c_id,
         |    ${cosSql("q", "c")} AS cos
         |   FROM cands JOIN embeddings AS q ON q.vec_id = cands.q_id
         |    JOIN embeddings AS c ON c.vec_id = cands.c_id) AS sc) AS r
         |  WHERE rk <= 5),
         | fullk AS (SELECT q_id, c_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${cosSql("q", "c")} DESC, c.vec_id ASC) AS rk
         |  FROM embeddings AS q JOIN embeddings AS c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10) AS t WHERE rk <= 5),
         | ov AS (SELECT nprobe, f.q_id, count(*) AS overlap
         |  FROM fullk AS f JOIN annk AS a
         |   ON a.q_id = f.q_id AND a.c_id = f.c_id
         |  GROUP BY nprobe, f.q_id),
         | grid AS (SELECT nprobe, vec_id AS q_id FROM embeddings, np
         |  WHERE vec_id < 10)
         | SELECT grid.nprobe, grid.q_id, coalesce(ov.overlap, 0) AS overlap,
         |  round(coalesce(ov.overlap, 0) / 5.0, 6) AS recall
         | FROM grid LEFT JOIN ov
         |  ON ov.nprobe = grid.nprobe AND ov.q_id = grid.q_id
         | ORDER BY grid.nprobe, grid.q_id""".stripMargin.replace("\n", " "),
    "dedup_bucket_stats" ->
      s"""WITH sig AS ($SIG), banded AS ($BANDED),
         | bs AS (SELECT band, bucket, count(*) AS bsz FROM banded
         |  GROUP BY 1, 2)
         | SELECT band, count(*) AS n_buckets,
         |  CAST(sum(bsz) AS BIGINT) AS n_docs,
         |  CAST(max(bsz) AS BIGINT) AS max_bucket,
         |  CAST(sum(CASE WHEN bsz >= 2 THEN bsz ELSE 0 END) AS BIGINT)
         |    AS colliding_docs,
         |  CAST(sum(CASE WHEN bsz > $MAX_BUCKET THEN 1 ELSE 0 END) AS BIGINT)
         |    AS over_cap
         | FROM bs GROUP BY band ORDER BY band""".stripMargin.replace("\n", " "),
    "sim_recall_curve" ->
      s"""WITH cb AS (${lshBandedSql(8, 4, "c_id")}),
         | qb AS (${lshBandedSql(8, 4, "q_id", "WHERE vec_id < 10")}),
         | cands AS (SELECT DISTINCT qb.q_id, cb.c_id
         |  FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
         |  WHERE qb.q_id <> cb.c_id),
         | annk AS (SELECT q_id, c_id, rk AS rk_a FROM (
         |  SELECT q_id, c_id,
         |   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rk
         |  FROM (SELECT cands.q_id, cands.c_id, ${cosSql("q", "c")} AS cos
         |   FROM cands JOIN embeddings AS q ON q.vec_id = cands.q_id
         |    JOIN embeddings AS c ON c.vec_id = cands.c_id) AS sc) AS r
         |  WHERE rk <= 20),
         | fullk AS (SELECT q_id, c_id, rk AS rk_f FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${cosSql("q", "c")} DESC, c.vec_id ASC) AS rk
         |  FROM embeddings AS q JOIN embeddings AS c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10) AS t WHERE rk <= 20),
         | kl AS (SELECT unnest([1, 5, 10, 20]) AS k),
         | ov AS (SELECT k, f.q_id, count(*) AS overlap
         |  FROM fullk AS f JOIN annk AS a
         |   ON a.q_id = f.q_id AND a.c_id = f.c_id, kl
         |  WHERE rk_f <= k AND rk_a <= k GROUP BY k, f.q_id),
         | grid AS (SELECT k, vec_id AS q_id FROM embeddings, kl
         |  WHERE vec_id < 10)
         | SELECT grid.k, grid.q_id, coalesce(ov.overlap, 0) AS overlap,
         |  round(coalesce(ov.overlap, 0) / grid.k, 6) AS recall
         | FROM grid LEFT JOIN ov ON ov.k = grid.k AND ov.q_id = grid.q_id
         | ORDER BY grid.k, grid.q_id""".stripMargin.replace("\n", " "),
    "corpus_dup_sources" ->
      s"""WITH RECURSIVE sig AS ($SIG), banded AS ($BANDED),
         | capped AS (SELECT doc_id, band, bucket FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded) AS z
         |  WHERE bsz <= $MAX_BUCKET),
         | p AS ($PAIRS), v AS ($VERIFIED),
         | edges AS (SELECT doc_a AS src, doc_b AS dst FROM v
         |  UNION SELECT doc_b AS src, doc_a AS dst FROM v),
         | reach(node, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach AS r JOIN edges AS e ON e.src = r.node),
         | cl AS (SELECT node AS doc_id, min(root) AS cluster_id
         |  FROM reach GROUP BY node)
         | SELECT cs.source AS source_first, ds.source AS source_dup,
         |  count(*) AS n_dups
         | FROM cl JOIN documents AS ds ON ds.doc_id = cl.doc_id
         |  JOIN documents AS cs ON cs.doc_id = cl.cluster_id
         | WHERE cl.doc_id <> cl.cluster_id
         | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " "),
    "sim_cos_hist" -> {
      val cosAdj =
        """(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
          | (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
          |  sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))))""".stripMargin.replace("\n", " ")
      s"""WITH p AS (SELECT round($cosAdj, 6) AS c
         |  FROM embeddings AS a JOIN embeddings AS b ON b.vec_id = a.vec_id + 1)
         | SELECT CAST(least(floor((c + 1.0) * 10), 19) AS BIGINT) AS bin,
         |  round(CAST(least(floor((c + 1.0) * 10), 19) AS BIGINT) / 10.0 - 1.0, 1)
         |    AS bin_lo,
         |  count(*) AS n_pairs
         | FROM p GROUP BY 1, 2 ORDER BY bin""".stripMargin.replace("\n", " ")
    },
    "dedup_minhash_est" -> {
      val agree = (0 until K)
        .map(i => s"(CASE WHEN l.mh$i = r.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH sig AS ($SIG), banded AS ($BANDED),
         | capped AS (SELECT doc_id, band, bucket FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded) AS z
         |  WHERE bsz <= $MAX_BUCKET),
         | p AS ($PAIRS),
         | est AS (SELECT p.doc_a, p.doc_b, $agree AS agree
         |  FROM p JOIN sig AS l ON p.doc_a = l.doc_id
         |   JOIN sig AS r ON p.doc_b = r.doc_id),
         | sh AS (SELECT DISTINCT doc_id, h FROM ($H) AS hh),
         | sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         | inter AS (SELECT p.doc_a, p.doc_b, count(*) AS inter_sz FROM p
         |  JOIN sh AS a ON a.doc_id = p.doc_a
         |  JOIN sh AS b ON b.doc_id = p.doc_b AND b.h = a.h
         |  GROUP BY p.doc_a, p.doc_b),
         | ja AS (SELECT p.doc_a, p.doc_b,
         |  round(coalesce(i.inter_sz, 0)::DOUBLE /
         |    (sa.sz + sb.sz - coalesce(i.inter_sz, 0))::DOUBLE, 6) AS jaccard_v
         |  FROM p LEFT JOIN inter AS i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         |  JOIN sz AS sa ON sa.doc_id = p.doc_a
         |  JOIN sz AS sb ON sb.doc_id = p.doc_b)
         | SELECT e.doc_a, e.doc_b, round(e.agree / $K.0, 6) AS est_jaccard,
         |  ja.jaccard_v, round(abs(e.agree / $K.0 - ja.jaccard_v), 6) AS abs_err
         | FROM est AS e JOIN ja ON ja.doc_a = e.doc_a AND ja.doc_b = e.doc_b
         | ORDER BY e.doc_a, e.doc_b""".stripMargin.replace("\n", " ")
    },
    "dedup_jaccard" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, h FROM ($H) AS hh),
         | pairs AS (SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents
         |           WHERE doc_id < 100),
         | sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         | inter AS (SELECT p.doc_a, p.doc_b, count(*) AS inter_sz
         |  FROM pairs AS p
         |  JOIN sh AS a ON a.doc_id = p.doc_a
         |  JOIN sh AS b ON b.doc_id = p.doc_b AND b.h = a.h
         |  GROUP BY p.doc_a, p.doc_b)
         | SELECT p.doc_a, p.doc_b,
         |  round(coalesce(i.inter_sz, 0)::DOUBLE /
         |    (sa.sz + sb.sz - coalesce(i.inter_sz, 0))::DOUBLE, 6) AS jaccard_v
         | FROM pairs AS p
         | LEFT JOIN inter AS i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         | JOIN sz AS sa ON sa.doc_id = p.doc_a
         | JOIN sz AS sb ON sb.doc_id = p.doc_b
         | ORDER BY p.doc_a, p.doc_b""".stripMargin.replace("\n", " "),
    "dedup_containment" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, h FROM ($H) AS hh),
         | pairs AS (SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents
         |           WHERE doc_id < 100),
         | sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         | inter AS (SELECT p.doc_a, p.doc_b, count(*) AS inter_sz
         |  FROM pairs AS p
         |  JOIN sh AS a ON a.doc_id = p.doc_a
         |  JOIN sh AS b ON b.doc_id = p.doc_b AND b.h = a.h
         |  GROUP BY p.doc_a, p.doc_b)
         | SELECT p.doc_a, p.doc_b,
         |  round(coalesce(i.inter_sz, 0)::DOUBLE / sa.sz::DOUBLE, 6) AS contain_a,
         |  round(coalesce(i.inter_sz, 0)::DOUBLE / sb.sz::DOUBLE, 6) AS contain_b
         | FROM pairs AS p
         | LEFT JOIN inter AS i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
         | JOIN sz AS sa ON sa.doc_id = p.doc_a
         | JOIN sz AS sb ON sb.doc_id = p.doc_b
         | ORDER BY p.doc_a, p.doc_b""".stripMargin.replace("\n", " "),
    "dedup_embed_cos" ->
      s"""SELECT id_a, id_b, round(cos, 6) AS cos_v FROM (
         | SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a", "b")} AS cos
         | FROM embeddings AS a JOIN embeddings AS b ON a.vec_id < b.vec_id) AS t
         | WHERE cos > 0.40 ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
    "dedup_embed_lsh" ->
      s"""WITH banded AS (${lshBandedSql(6, 4, "vid")}),
         | cands AS (SELECT DISTINCT l.vid AS id_a, r.vid AS id_b
         |  FROM banded AS l JOIN banded AS r
         |   ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vid < r.vid)
         | SELECT id_a, id_b, round(cos, 6) AS cos_v FROM (
         |  SELECT id_a, id_b, ${cosSql("a", "b")} AS cos
         |  FROM cands JOIN embeddings AS a ON a.vec_id = id_a
         |   JOIN embeddings AS b ON b.vec_id = id_b) AS s
         | WHERE cos > 0.40 ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
    "sim_int8_topk" ->
      s"""WITH codes AS (SELECT vec_id,
         |  list_transform(embedding::DOUBLE[], x -> CAST(round(x /
         |   (greatest(list_max(list_transform(embedding::DOUBLE[],
         |     y -> abs(y))), 1e-30) / 127.0)) AS DOUBLE)) AS c
         |  FROM embeddings)
         | SELECT q_id, c_id, round(cos, 6) AS cos_v, rk FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |   list_dot_product(q.c, c.c) /
         |    (sqrt(list_dot_product(q.c, q.c)) *
         |     sqrt(list_dot_product(c.c, c.c))) AS cos,
         |   row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |    list_dot_product(q.c, c.c) /
         |     (sqrt(list_dot_product(q.c, q.c)) *
         |      sqrt(list_dot_product(c.c, c.c))) DESC, c.vec_id ASC) AS rk
         |  FROM codes AS q JOIN codes AS c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10) AS t
         | WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin.replace("\n", " "),
    // sign-pattern Hamming replayed dimension-wise (the packed-word
    // bit_count(xor) of the engine counts exactly the sign
    // disagreements), then exact-cosine re-rank of the 20 candidates
    "sim_binary_quant" ->
      s"""WITH d AS (SELECT unnest(generate_series(1, 64)) AS j),
         | qv AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
         |  FROM embeddings WHERE vec_id < 10),
         | ham AS (SELECT q_id, c.vec_id AS c_id,
         |   CAST(sum(CASE WHEN (qe[j] > 0) <>
         |     ((c.embedding::DOUBLE[])[j] > 0) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS hamming
         |  FROM qv CROSS JOIN embeddings AS c CROSS JOIN d
         |  WHERE c.vec_id <> qv.q_id GROUP BY 1, 2),
         | cand AS (SELECT q_id, c_id, hamming FROM (
         |   SELECT q_id, c_id, hamming, row_number() OVER (PARTITION BY q_id
         |     ORDER BY hamming ASC, c_id ASC) AS crk FROM ham) AS z
         |  WHERE crk <= 20),
         | fin AS (SELECT cand.q_id, cand.c_id, cand.hamming,
         |   ${cosSql("a", "b")} AS cos
         |  FROM cand JOIN embeddings AS a ON a.vec_id = cand.q_id
         |   JOIN embeddings AS b ON b.vec_id = cand.c_id)
         | SELECT q_id, c_id, hamming, round(cos, 6) AS cos_v, rk FROM (
         |  SELECT q_id, c_id, hamming, cos, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rk
         |  FROM fin) AS t
         | WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin.replace("\n", " "),
    // the MLT top-10 pool replayed, then per-query top-5 NEW terms
    // by pooled tf·idf weight (anti-join against the query's own
    // terms)
    "text_rocchio" ->
      """WITH wd AS (SELECT doc_id,
        |  string_split_regex(lower(text), '\s+') AS ws FROM documents),
        | tf AS (SELECT doc_id, w, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(ws) AS w FROM wd) z GROUP BY doc_id, w),
        | dl AS (SELECT doc_id, len(ws)::BIGINT AS dl FROM wd),
        | st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        | dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        | qt AS (SELECT doc_id AS q_id, w FROM tf WHERE doc_id < 10),
        | terms AS (SELECT qt.q_id, tf.doc_id AS c_id,
        |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |   * (tf.tf * 2.2)
        |   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS term
        |  FROM qt JOIN tf ON tf.w = qt.w AND tf.doc_id <> qt.q_id
        |  JOIN dfq ON dfq.w = qt.w
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN st),
        | sc AS (SELECT q_id, c_id, round(sum(term), 6) AS bm25_v
        |  FROM terms GROUP BY q_id, c_id),
        | ss AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
        |  row_number() OVER (PARTITION BY q_id
        |   ORDER BY bm25_v DESC, c_id ASC) AS s_rk FROM sc) z
        |  WHERE s_rk <= 10),
        | pool AS (SELECT ss.q_id, tf.w,
        |   round(sum(tf.tf * ln(st.n_docs::DOUBLE / dfq.df)), 6) AS weight
        |  FROM ss JOIN tf ON tf.doc_id = ss.c_id
        |   JOIN dfq ON dfq.w = tf.w CROSS JOIN st
        |  GROUP BY 1, 2),
        | fresh AS (SELECT pool.q_id, pool.w, pool.weight FROM pool
        |  WHERE NOT EXISTS (SELECT 1 FROM qt
        |   WHERE qt.q_id = pool.q_id AND qt.w = pool.w))
        | SELECT q_id, w AS term, weight, rk FROM (
        |  SELECT q_id, w, weight, row_number() OVER (PARTITION BY q_id
        |    ORDER BY weight DESC, w ASC) AS rk FROM fresh) AS t
        | WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin.replace("\n", " "),
    // Dirichlet QL in the same sparse decomposition as the engine:
    // matched-term sum + n_q·ln(μ/(dl+μ)) background, μ = 2000
    "text_ql" ->
      """WITH wd AS (SELECT doc_id,
        |  string_split_regex(lower(text), '\s+') AS ws FROM documents),
        | tf AS (SELECT doc_id, w, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(ws) AS w FROM wd) z GROUP BY doc_id, w),
        | dl AS (SELECT doc_id, len(ws)::BIGINT AS dl FROM wd),
        | tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_tok FROM tf),
        | ctf AS (SELECT w, CAST(sum(tf) AS BIGINT) AS ctf
        |  FROM tf GROUP BY w),
        | qt AS (SELECT doc_id AS q_id, w FROM tf WHERE doc_id < 10),
        | nq AS (SELECT q_id, count(*) AS n_q FROM qt GROUP BY q_id),
        | terms AS (SELECT qt.q_id, tf.doc_id AS c_id,
        |   ln(1.0 + (tf.tf * n_tok) / (2000.0 * ctf.ctf)) AS term
        |  FROM qt JOIN tf ON tf.w = qt.w AND tf.doc_id <> qt.q_id
        |  JOIN ctf ON ctf.w = qt.w CROSS JOIN tot),
        | sc AS (SELECT q_id, c_id, sum(term) AS m
        |  FROM terms GROUP BY q_id, c_id),
        | fin AS (SELECT sc.q_id, sc.c_id,
        |   round(sc.m + nq.n_q * ln(2000.0 / (dl.dl + 2000.0)), 6) AS ql_v
        |  FROM sc JOIN dl ON dl.doc_id = sc.c_id
        |   JOIN nq ON nq.q_id = sc.q_id)
        | SELECT q_id, c_id, ql_v, s_rk FROM (
        |  SELECT q_id, c_id, ql_v, row_number() OVER (PARTITION BY q_id
        |    ORDER BY ql_v DESC, c_id ASC) AS s_rk FROM fin) AS t
        | WHERE s_rk <= 20 ORDER BY q_id, s_rk""".stripMargin.replace("\n", " "),
    "sim_mmr" -> mmrOracleSql(k = 5, poolK = 20, lamNum = 7),
    "sim_multiprobe" -> multiProbeOracleSql(k = 5, planes = 8, probes = 3),
    "sim_probe_curve" ->
      probeCurveOracleSql(k = 5, nq = 10, planes = 8, maxProbes = 3),
    "sketch_bloom_fpr" ->
      bloomFprOracleSql(Seq(1 << 12, 1 << 14, 1 << 16), k = 5),
    "sim_farthest_init" -> farthestOracleSql(k = 8),
    "corpus_shard_balance" ->
      """WITH per AS (SELECT
        |  CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) % 32
        |    AS shard,
        |  len(string_split_regex(lower(text), '\s+'))::BIGINT AS toks
        | FROM documents),
        | g AS (SELECT shard, count(*) AS n_docs,
        |   CAST(sum(toks) AS BIGINT) AS n_tokens FROM per GROUP BY shard),
        | t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
        |   CAST(sum(n_tokens) AS BIGINT) AS t_toks FROM g)
        | SELECT shard, n_docs, n_tokens,
        |  round(n_docs * 32 / t_docs::DOUBLE - 1.0, 6) AS doc_dev,
        |  round(n_tokens * 32 / t_toks::DOUBLE - 1.0, 6) AS token_dev
        | FROM g, t ORDER BY shard""".stripMargin.replace("\n", " "),
    // VSM: tf·ln(N/df) over the df≤10% vocabulary, L2 norms, DAAT
    // posting join, rounded-cosine rank
    "sim_sparse_cos" ->
      """WITH wd AS (SELECT doc_id,
        |  string_split_regex(lower(text), '\s+') AS ws FROM documents),
        | tf AS (SELECT doc_id, w, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(ws) AS w FROM wd) z GROUP BY doc_id, w),
        | nd AS (SELECT count(*) AS n_docs FROM documents),
        | kept AS (SELECT w, count(*) AS df FROM tf GROUP BY w
        |  HAVING count(*) <= (SELECT n_docs FROM nd) * 0.1),
        | wts AS (SELECT tf.doc_id, tf.w,
        |   tf.tf * ln(nd.n_docs::DOUBLE / kept.df) AS wt
        |  FROM tf JOIN kept ON kept.w = tf.w CROSS JOIN nd),
        | nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nrm
        |  FROM wts GROUP BY doc_id),
        | dots AS (SELECT qw.doc_id AS q_id, cw.doc_id AS c_id,
        |   sum(qw.wt * cw.wt) AS dot
        |  FROM wts qw JOIN wts cw
        |   ON cw.w = qw.w AND cw.doc_id <> qw.doc_id
        |  WHERE qw.doc_id < 10 GROUP BY 1, 2),
        | sc AS (SELECT d.q_id, d.c_id,
        |   round(d.dot / (qn.nrm * cn.nrm), 6) AS cos_v
        |  FROM dots d JOIN nrm qn ON qn.doc_id = d.q_id
        |   JOIN nrm cn ON cn.doc_id = d.c_id)
        | SELECT q_id, c_id, cos_v, s_rk FROM (
        |  SELECT q_id, c_id, cos_v, row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos_v DESC, c_id ASC) AS s_rk FROM sc) AS t
        | WHERE s_rk <= 20 ORDER BY q_id, s_rk""".stripMargin.replace("\n", " "),
    // A-ES weighted reservoir: key = ln(md5-uniform)/n_chars, rounded
    // to 6 before ranking (libm ln ulp), per-source top-10
    "corpus_reservoir" ->
      """WITH k AS (SELECT source, doc_id, n_chars,
        |  round(ln((CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |    AS BIGINT) + 1) / 4294967296.0) / n_chars, 6) AS res_key
        | FROM documents)
        | SELECT source, doc_id, n_chars, res_key, rk FROM (
        |  SELECT source, doc_id, n_chars, res_key, row_number() OVER (
        |    PARTITION BY source ORDER BY res_key DESC, doc_id ASC) AS rk
        |  FROM k) AS t
        | WHERE rk <= 10 ORDER BY source, rk""".stripMargin.replace("\n", " "),
    // IVF-PQ composed: cells + residual PQ + per-(query, cell) ADC —
    // centroids/cellof/qprobe from the ivf oracle, residual lists as
    // element-wise comprehensions, codebooks from the first 32
    // residuals, encoding and ADC exactly as the engine
    "sim_ivfpq_ann" -> {
      val js = (0 until 8).mkString("[", ", ", "]")
      val resid = "[ (e.embedding::DOUBLE[])[i] - co.cemb[i] for i in range(1, 65) ]"
      s"""WITH cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |   embedding::DOUBLE[] AS cemb
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         | cd AS (SELECT e.vec_id, c.cell,
         |   list_dot_product(c.cemb, c.cemb)
         |    - 2 * list_dot_product(e.embedding::DOUBLE[], c.cemb) AS d
         |  FROM embeddings AS e CROSS JOIN cents AS c),
         | cellof AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d ASC, cell ASC) AS rn FROM cd) AS t WHERE rn = 1),
         | cres AS (SELECT e.vec_id, cf.cell, $resid AS r
         |  FROM embeddings AS e JOIN cellof AS cf ON cf.vec_id = e.vec_id
         |  JOIN cents AS co ON co.cell = cf.cell),
         | books AS (SELECT
         |   row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS c, j,
         |   list_slice(r, j * 8 + 1, (j + 1) * 8) AS w
         |  FROM (SELECT vec_id, r FROM cres ORDER BY vec_id LIMIT 32) AS seed
         |  CROSS JOIN (SELECT unnest($js) AS j) AS jss),
         | csv2 AS (SELECT vec_id, cell, j, list_slice(r, j * 8 + 1, (j + 1) * 8) AS s
         |  FROM cres CROSS JOIN (SELECT unnest($js) AS j) AS jss),
         | enc AS (SELECT vec_id, cell, j, c AS code FROM (
         |  SELECT sv.vec_id, sv.cell, sv.j, b.c,
         |   row_number() OVER (PARTITION BY sv.vec_id, sv.j ORDER BY
         |    (list_dot_product(b.w, b.w)
         |     - 2 * list_dot_product(sv.s, b.w)) ASC, b.c ASC) AS rn
         |  FROM csv2 AS sv JOIN books AS b USING (j)) AS t WHERE rn = 1),
         | qprobe AS (SELECT vec_id AS q_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d ASC, cell ASC) AS rn FROM cd WHERE vec_id < 10) AS t
         |  WHERE rn <= 2),
         | qres AS (SELECT q.q_id, q.cell, $resid AS r
         |  FROM qprobe AS q JOIN embeddings AS e ON e.vec_id = q.q_id
         |  JOIN cents AS co ON co.cell = q.cell),
         | qsv AS (SELECT q_id, cell, j, list_slice(r, j * 8 + 1, (j + 1) * 8) AS s
         |  FROM qres CROSS JOIN (SELECT unnest($js) AS j) AS jss),
         | adc AS (SELECT qsv.q_id, qsv.cell, qsv.j, b.c,
         |   (list_dot_product(qsv.s, qsv.s)
         |    - 2 * list_dot_product(qsv.s, b.w)
         |    + list_dot_product(b.w, b.w)) AS d
         |  FROM qsv JOIN books AS b USING (j)),
         | scored AS (SELECT adc.q_id, enc.vec_id AS c_id, sum(adc.d) AS adc
         |  FROM enc JOIN adc ON adc.cell = enc.cell AND adc.j = enc.j
         |   AND adc.c = enc.code
         |  WHERE enc.vec_id <> adc.q_id
         |  GROUP BY adc.q_id, enc.vec_id)
         | SELECT q_id, c_id, round(adc, 6) + 0.0 AS adc_v, rk FROM (
         |  SELECT q_id, c_id, adc, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc ASC, c_id ASC) AS rk FROM scored) AS r
         | WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin.replace("\n", " ")
    },
    "sim_pq_distortion" -> {
      val js = (0 until 8).mkString("[", ", ", "]")
      s"""WITH books AS (
         |  SELECT row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS c, j,
         |   list_slice(embedding::DOUBLE[], j * 8 + 1, (j + 1) * 8) AS w
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 64) AS seed
         |  CROSS JOIN (SELECT unnest($js) AS j) AS jss),
         | sv AS (SELECT vec_id, j,
         |   list_slice(embedding::DOUBLE[], j * 8 + 1, (j + 1) * 8) AS s
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest($js) AS j) AS jss),
         | err AS (SELECT sv.vec_id, sv.j,
         |   min(list_dot_product(b.w, b.w)
         |    - 2 * list_dot_product(sv.s, b.w)
         |    + list_dot_product(sv.s, sv.s)) AS errmin
         |  FROM sv JOIN books AS b USING (j) GROUP BY sv.vec_id, sv.j)
         | SELECT j, count(*) AS n_vecs, round(avg(errmin), 6) AS mse
         | FROM err GROUP BY j ORDER BY j""".stripMargin.replace("\n", " ")
    },
    // one Lloyd refinement round replayed: encode with the seed
    // books, recompute each codeword as the element-wise mean of its
    // assigned subvectors (empty cells keep the seed), then the
    // standard encode + ADC against the refined books
    "sim_pq_refined" -> {
      val js = (0 until 8).mkString("[", ", ", "]")
      def encSql(books: String) =
        s"""SELECT vec_id, j, c AS code FROM (
           | SELECT sv.vec_id, sv.j, b.c,
           |  row_number() OVER (PARTITION BY sv.vec_id, sv.j ORDER BY
           |   (list_dot_product(b.w, b.w)
           |    - 2 * list_dot_product(sv.s, b.w)) ASC, b.c ASC) AS rn
           | FROM sv JOIN $books AS b USING (j)) AS t WHERE rn = 1""".stripMargin.replace("\n", " ")
      s"""WITH books0 AS (
         |  SELECT row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS c, j,
         |   list_slice(embedding::DOUBLE[], j * 8 + 1, (j + 1) * 8) AS w
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 64) AS seed
         |  CROSS JOIN (SELECT unnest($js) AS j) AS jss),
         | sv AS (SELECT vec_id, j,
         |   list_slice(embedding::DOUBLE[], j * 8 + 1, (j + 1) * 8) AS s
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest($js) AS j) AS jss),
         | enc0 AS (${encSql("books0")}),
         | m1 AS (SELECT j, c, list(mv ORDER BY pos) AS memb FROM (
         |  SELECT e.j, e.code AS c, pos, avg(sv.s[pos]) AS mv
         |  FROM enc0 AS e JOIN sv ON sv.vec_id = e.vec_id AND sv.j = e.j
         |  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS pos) AS ps
         |  GROUP BY e.j, e.code, pos) AS g GROUP BY j, c),
         | books AS (SELECT b0.c, b0.j, coalesce(m1.memb, b0.w) AS w
         |  FROM books0 AS b0 LEFT JOIN m1 ON m1.j = b0.j AND m1.c = b0.c),
         | enc AS (${encSql("books")}),
         | qd AS (SELECT sv.vec_id AS q_id, sv.j, b.c,
         |   (list_dot_product(sv.s, sv.s)
         |    - 2 * list_dot_product(sv.s, b.w))
         |   + list_dot_product(b.w, b.w) AS d
         |  FROM sv JOIN books AS b USING (j) WHERE sv.vec_id < 10),
         | scored AS (SELECT qd.q_id, e.vec_id AS c_id, sum(qd.d) AS adc
         |  FROM enc AS e JOIN qd ON qd.j = e.j AND qd.c = e.code
         |  WHERE e.vec_id <> qd.q_id
         |  GROUP BY qd.q_id, e.vec_id)
         | SELECT q_id, c_id, round(adc, 6) + 0.0 AS adc_v, rk FROM (
         |  SELECT q_id, c_id, adc, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc ASC, c_id ASC) AS rk FROM scored) AS r
         | WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin.replace("\n", " ")
    },
    "sim_pq_ann" -> {
      val js = (0 until 8).mkString("[", ", ", "]")
      s"""WITH books AS (
         |  SELECT row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS c, j,
         |   list_slice(embedding::DOUBLE[], j * 8 + 1, (j + 1) * 8) AS w
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT 64) AS seed
         |  CROSS JOIN (SELECT unnest($js) AS j) AS jss),
         | sv AS (SELECT vec_id, j,
         |   list_slice(embedding::DOUBLE[], j * 8 + 1, (j + 1) * 8) AS s
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest($js) AS j) AS jss),
         | enc AS (SELECT vec_id, j, c AS code FROM (
         |  SELECT sv.vec_id, sv.j, b.c,
         |   row_number() OVER (PARTITION BY sv.vec_id, sv.j ORDER BY
         |    (list_dot_product(b.w, b.w)
         |     - 2 * list_dot_product(sv.s, b.w)) ASC, b.c ASC) AS rn
         |  FROM sv JOIN books AS b USING (j)) AS t WHERE rn = 1),
         | qd AS (SELECT sv.vec_id AS q_id, sv.j, b.c,
         |   (list_dot_product(sv.s, sv.s)
         |    - 2 * list_dot_product(sv.s, b.w))
         |   + list_dot_product(b.w, b.w) AS d
         |  FROM sv JOIN books AS b USING (j) WHERE sv.vec_id < 10),
         | scored AS (SELECT qd.q_id, e.vec_id AS c_id, sum(qd.d) AS adc
         |  FROM enc AS e JOIN qd ON qd.j = e.j AND qd.c = e.code
         |  WHERE e.vec_id <> qd.q_id
         |  GROUP BY qd.q_id, e.vec_id)
         | SELECT q_id, c_id, round(adc, 6) + 0.0 AS adc_v, rk FROM (
         |  SELECT q_id, c_id, adc, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc ASC, c_id ASC) AS rk FROM scored) AS r
         | WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin.replace("\n", " ")
    },
    "sim_ivf_ann" ->
      s"""WITH cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
         |   embedding::DOUBLE[] AS cemb
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         | cd AS (SELECT e.vec_id, c.ci,
         |   list_dot_product(c.cemb, c.cemb)
         |    - 2 * list_dot_product(e.embedding::DOUBLE[], c.cemb) AS d
         |  FROM embeddings AS e CROSS JOIN cents AS c),
         | cellof AS (SELECT vec_id, ci AS cell FROM (
         |  SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d ASC, ci ASC) AS rn FROM cd) AS t WHERE rn = 1),
         | qprobe AS (SELECT vec_id AS q_id, ci AS cell FROM (
         |  SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d ASC, ci ASC) AS rn FROM cd WHERE vec_id < 10) AS t
         |  WHERE rn <= 2),
         | cands AS (SELECT q.q_id, co.vec_id AS c_id
         |  FROM qprobe AS q JOIN cellof AS co ON co.cell = q.cell
         |  WHERE co.vec_id <> q.q_id)
         | SELECT q_id, c_id, round(cos, 6) AS cos_v, rk FROM (
         |  SELECT q_id, c_id, cos,
         |   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rk
         |  FROM (SELECT cands.q_id, cands.c_id, ${cosSql("q", "c")} AS cos
         |   FROM cands JOIN embeddings AS q ON q.vec_id = cands.q_id
         |    JOIN embeddings AS c ON c.vec_id = cands.c_id) AS sc) AS r
         | WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin.replace("\n", " "),
    "sim_lsh_ann" ->
      s"""WITH cb AS (${lshBandedSql(8, 4, "c_id")}),
         | qb AS (${lshBandedSql(8, 4, "q_id", "WHERE vec_id < 10")}),
         | cands AS (SELECT DISTINCT qb.q_id, cb.c_id
         |  FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
         |  WHERE qb.q_id <> cb.c_id)
         | SELECT q_id, c_id, round(cos, 6) AS cos_v, rk FROM (
         |  SELECT q_id, c_id, cos,
         |   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rk
         |  FROM (SELECT cands.q_id, cands.c_id, ${cosSql("q", "c")} AS cos
         |   FROM cands JOIN embeddings AS q ON q.vec_id = cands.q_id
         |    JOIN embeddings AS c ON c.vec_id = cands.c_id) AS sc) AS r
         | WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin.replace("\n", " "),
    // LSH-candidate margin mining: banded buckets on both sides,
    // exact re-score per candidate, candidate-set top-k denominators
    "sim_margin_lsh" ->
      s"""WITH ab AS (${lshBandedSql(8, 4, "a_id", "WHERE label = 0")}),
         | bb AS (${lshBandedSql(8, 4, "b_id", "WHERE label = 1")}),
         | cand AS (SELECT DISTINCT ab.a_id, bb.b_id
         |  FROM ab JOIN bb ON bb.tbl = ab.tbl AND bb.bucket = ab.bucket),
         | sc AS (SELECT cand.a_id, cand.b_id, ${cosSql("qa", "qb")} AS cos
         |  FROM cand JOIN embeddings AS qa ON qa.vec_id = cand.a_id
         |   JOIN embeddings AS qb ON qb.vec_id = cand.b_id),
         | rk AS (SELECT a_id, b_id,
         |   CAST(round(cos * 1000000) AS BIGINT) AS cos6,
         |   row_number() OVER (PARTITION BY a_id
         |     ORDER BY cos DESC, b_id ASC) AS rk_f,
         |   row_number() OVER (PARTITION BY b_id
         |     ORDER BY cos DESC, a_id ASC) AS rk_b FROM sc),
         | favg AS (SELECT a_id, sum(cos6)::DOUBLE / count(*) AS f6 FROM rk
         |  WHERE rk_f <= 4 GROUP BY a_id),
         | bavg AS (SELECT b_id, sum(cos6)::DOUBLE / count(*) AS b6 FROM rk
         |  WHERE rk_b <= 4 GROUP BY b_id),
         | best AS (SELECT a_id, b_id, cos6 FROM rk WHERE rk_f = 1)
         | SELECT best.a_id, best.b_id,
         |  best.cos6 / 1000000.0 AS cos_v,
         |  favg.f6 / 1000000.0 AS avg_fwd,
         |  bavg.b6 / 1000000.0 AS avg_bwd,
         |  round(best.cos6 / ((favg.f6 + bavg.b6) / 2), 6) AS margin,
         |  (best.cos6 / ((favg.f6 + bavg.b6) / 2)) > 1.05 AS accepted
         | FROM best JOIN favg ON favg.a_id = best.a_id
         | JOIN bavg ON bavg.b_id = best.b_id
         | ORDER BY best.a_id""".stripMargin.replace("\n", " "),
    // c-TF-IDF: tf(t,c)/words(c) · ln(1 + A/f(t)) per cluster term,
    // ranked by the ROUNDED weight
    "corpus_ctfidf" ->
      s"""WITH lab AS (SELECT d.doc_id, e.label, d.text
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         | tc AS (SELECT label, t, count(*) AS tf FROM (
         |   SELECT label,
         |    unnest(string_split_regex(lower(text), '\\s+')) AS t
         |   FROM lab) AS u GROUP BY 1, 2),
         | pc AS (SELECT label, CAST(sum(tf) AS BIGINT) AS words_c
         |  FROM tc GROUP BY 1),
         | pt AS (SELECT t, CAST(sum(tf) AS BIGINT) AS f_t
         |  FROM tc GROUP BY 1),
         | g AS (SELECT sum(words_c)::DOUBLE / count(*) AS a_words FROM pc),
         | sc AS (SELECT tc.label, tc.t, tc.tf, pt.f_t,
         |   round(tc.tf::DOUBLE / pc.words_c::DOUBLE
         |    * ln(1.0 + g.a_words / pt.f_t::DOUBLE), 9) AS w
         |  FROM tc JOIN pc USING (label) JOIN pt USING (t) CROSS JOIN g)
         | SELECT label, t, tf, f_t, w, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY label
         |    ORDER BY w DESC, t ASC) AS rk FROM sc) AS z
         | WHERE rk <= 5 ORDER BY label, rk""".stripMargin.replace("\n", " "),
    // ratio margin in integer micro-units: rank by raw cos, the
    // denominators average micro-cosines (sum(cos6)/count) so both
    // engines divide identical doubles and `accepted` derives from
    // the same unrounded margin (the marginMiningLsh discipline)
    "sim_margin_mining" ->
      s"""WITH a AS (SELECT * FROM embeddings WHERE label = 0),
         | b AS (SELECT * FROM embeddings WHERE label = 1),
         | p AS (SELECT * FROM a ORDER BY vec_id LIMIT 10),
         | fwd AS (SELECT p.vec_id AS q_id, c.vec_id AS c_id,
         |   CAST(round(round(${cosSql("p", "c")}, 6) * 1000000)
         |    AS BIGINT) AS cos6,
         |   row_number() OVER (PARTITION BY p.vec_id
         |     ORDER BY ${cosSql("p", "c")} DESC, c.vec_id ASC) AS rk
         |  FROM p JOIN b AS c ON p.vec_id <> c.vec_id),
         | favg AS (SELECT q_id, sum(cos6)::DOUBLE / count(*) AS f6
         |   FROM fwd WHERE rk <= 4 GROUP BY q_id),
         | best AS (SELECT q_id, c_id, cos6 FROM fwd WHERE rk = 1),
         | ys AS (SELECT DISTINCT c_id FROM best),
         | bwd AS (SELECT y.c_id AS y_id,
         |   CAST(round(round(${cosSql("yb", "a2")}, 6) * 1000000)
         |    AS BIGINT) AS cos6,
         |   row_number() OVER (PARTITION BY y.c_id
         |     ORDER BY ${cosSql("yb", "a2")} DESC, a2.vec_id ASC) AS rk
         |  FROM ys AS y JOIN b AS yb ON yb.vec_id = y.c_id
         |  JOIN a AS a2 ON a2.vec_id <> y.c_id),
         | bavg AS (SELECT y_id AS c_id, sum(cos6)::DOUBLE / count(*)
         |   AS b6 FROM bwd WHERE rk <= 4 GROUP BY y_id)
         | SELECT best.q_id, best.c_id,
         |  best.cos6 / 1000000.0 AS cos_v,
         |  favg.f6 / 1000000.0 AS avg_fwd,
         |  bavg.b6 / 1000000.0 AS avg_bwd,
         |  round(best.cos6 / ((favg.f6 + bavg.b6) / 2), 6) AS margin,
         |  (best.cos6 / ((favg.f6 + bavg.b6) / 2)) > 1.05 AS accepted
         | FROM best JOIN favg ON favg.q_id = best.q_id
         | JOIN bavg ON bavg.c_id = best.c_id
         | ORDER BY best.q_id""".stripMargin.replace("\n", " "),
    "sim_cosine_topk" ->
      s"""SELECT q_id, c_id, round(cos, 6) AS cos_v, rk FROM (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id, ${cosSql("q", "c")} AS cos,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${cosSql("q", "c")} DESC, c.vec_id ASC) AS rk
         | FROM embeddings AS q JOIN embeddings AS c ON q.vec_id <> c.vec_id
         | WHERE q.vec_id < 10) AS t
         | WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin.replace("\n", " "),
    "corpus_clusters" ->
      s"""WITH RECURSIVE sig AS ($SIG), banded AS ($BANDED),
         | capped AS (SELECT doc_id, band, bucket FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded) AS z
         |  WHERE bsz <= $MAX_BUCKET),
         | p AS ($PAIRS), v AS ($VERIFIED),
         | edges AS (SELECT doc_a AS src, doc_b AS dst FROM v
         |  UNION SELECT doc_b AS src, doc_a AS dst FROM v),
         | reach(node, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach AS r JOIN edges AS e ON e.src = r.node)
         | SELECT node AS doc_id, min(root) AS cluster_id,
         |  CAST(min(root) = node AS INT) AS is_canonical
         | FROM reach GROUP BY node ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "corpus_manifest" ->
      s"""WITH RECURSIVE
         | gq AS (SELECT doc_id, CAST(mean_word_len >= 3 AND mean_word_len <= 10
         |   AND dup_line_frac <= 0.3 AND symbol_ratio <= 0.1 AS INT) AS gopher_pass
         |  FROM ($GOPHER_INNER) AS q),
         | ex AS (SELECT doc_id,
         |   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank
         |  FROM documents),
         | sig AS ($SIG), banded AS ($BANDED),
         | capped AS (SELECT doc_id, band, bucket FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded) AS z
         |  WHERE bsz <= $MAX_BUCKET),
         | p AS ($PAIRS), v AS ($VERIFIED),
         | edges AS (SELECT doc_a AS src, doc_b AS dst FROM v
         |  UNION SELECT doc_b AS src, doc_a AS dst FROM v),
         | reach(node, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach AS r JOIN edges AS e ON e.src = r.node),
         | cl AS (SELECT node AS doc_id, CAST(min(root) = node AS INT) AS is_canonical
         |  FROM reach GROUP BY node),
         | sp AS (SELECT doc_id,
         |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 10 THEN 'test'
         |   WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 20 THEN 'val'
         |   ELSE 'train' END AS split
         |  FROM documents)
         | SELECT gq.doc_id, gq.gopher_pass, ex.dup_rank, cl.is_canonical, sp.split,
         |  CAST(gq.gopher_pass = 1 AND ex.dup_rank = 1 AND cl.is_canonical = 1 AS INT)
         |   AS keep
         | FROM gq JOIN ex USING (doc_id) JOIN cl USING (doc_id) JOIN sp USING (doc_id)
         | ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "corpus_dedup_savings" ->
      s"""WITH RECURSIVE sig AS ($SIG), banded AS ($BANDED),
         | capped AS (SELECT doc_id, band, bucket FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded) AS z
         |  WHERE bsz <= $MAX_BUCKET),
         | p AS ($PAIRS), v AS ($VERIFIED),
         | edges AS (SELECT doc_a AS src, doc_b AS dst FROM v
         |  UNION SELECT doc_b AS src, doc_a AS dst FROM v),
         | reach(node, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach AS r JOIN edges AS e ON e.src = r.node),
         | cl AS (SELECT node AS doc_id,
         |  CAST(min(root) <> node AS INT) AS removable
         |  FROM reach GROUP BY node),
         | tk AS (SELECT doc_id, CAST(list_sum(list_transform(
         |   string_split_regex(lower(text), '\\s+'),
         |   w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS tok
         |  FROM documents)
         | SELECT count(*) AS n_docs,
         |  CAST(sum(cl.removable) AS BIGINT) AS n_removable,
         |  round(sum(cl.removable)::DOUBLE / count(*), 6) AS doc_frac,
         |  CAST(sum(tk.tok) AS BIGINT) AS tokens_total,
         |  CAST(sum(tk.tok * cl.removable) AS BIGINT) AS tokens_removable,
         |  round(sum(tk.tok * cl.removable)::DOUBLE / sum(tk.tok), 6)
         |   AS token_frac
         | FROM cl JOIN tk USING (doc_id)""".stripMargin.replace("\n", " "),
    "corpus_split_leakage" ->
      s"""WITH RECURSIVE sig AS ($SIG), banded AS ($BANDED),
         | capped AS (SELECT doc_id, band, bucket FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded) AS z
         |  WHERE bsz <= $MAX_BUCKET),
         | p AS ($PAIRS), v AS ($VERIFIED),
         | edges AS (SELECT doc_a AS src, doc_b AS dst FROM v
         |  UNION SELECT doc_b AS src, doc_a AS dst FROM v),
         | reach(node, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach AS r JOIN edges AS e ON e.src = r.node),
         | cl AS (SELECT node AS doc_id, min(root) AS cluster_id
         |  FROM reach GROUP BY node),
         | sp AS (SELECT doc_id,
         |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 10 THEN 'test'
         |   WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 20 THEN 'val'
         |   ELSE 'train' END AS split
         |  FROM documents),
         | g AS (SELECT cluster_id, count(*) AS n_docs,
         |   list_sort(list_distinct(list(split))) AS sps
         |  FROM cl JOIN sp USING (doc_id) GROUP BY cluster_id)
         | SELECT cluster_id, n_docs, CAST(len(sps) AS INT) AS n_splits,
         |  array_to_string(sps, ',') AS splits
         | FROM g WHERE len(sps) > 1
         | ORDER BY cluster_id""".stripMargin.replace("\n", " "),
    "corpus_split" ->
      """SELECT doc_id,
        | CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
        |   AS bucket100,
        | CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 10 THEN 'test'
        |  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 20 THEN 'val'
        |  ELSE 'train' END AS split
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "corpus_length_buckets" -> {
      val qs = (1 until 10).map(i =>
        s"quantile_cont(n_tokens, 0.$i) AS q$i").mkString(", ")
      val cases = (1 until 10).map(i =>
        s"(CASE WHEN n_tokens > q$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH toks AS (SELECT doc_id,
         |  CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         | b AS (SELECT $qs FROM toks)
         | SELECT doc_id, n_tokens, CAST(1 + $cases AS BIGINT) AS length_bucket
         | FROM toks, b ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    "corpus_overlap" ->
      s"""WITH sh AS (SELECT DISTINCT d.source, hh.h
         |  FROM ($H) AS hh JOIN documents AS d USING (doc_id)),
         | tot AS (SELECT source, count(*) AS total FROM sh GROUP BY source),
         | shared AS (SELECT l.source AS src_a, r.source AS src_b,
         |   count(*) AS shared
         |  FROM sh AS l JOIN sh AS r ON l.h = r.h AND l.source < r.source
         |  GROUP BY l.source, r.source)
         | SELECT s.src_a, s.src_b, s.shared,
         |  round(s.shared::DOUBLE /
         |    (ta.total + tb.total - s.shared)::DOUBLE, 6) AS jaccard_v
         | FROM shared AS s
         | JOIN tot AS ta ON ta.source = s.src_a
         | JOIN tot AS tb ON tb.source = s.src_b
         | ORDER BY s.src_a, s.src_b""".stripMargin.replace("\n", " "),
    "corpus_decontam" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, h FROM ($H) AS hh),
         | bench AS (SELECT DISTINCT h FROM sh WHERE doc_id < 25),
         | tot AS (SELECT doc_id, count(*) AS total FROM sh GROUP BY doc_id),
         | hit AS (SELECT doc_id, count(*) AS hit FROM sh
         |  WHERE h IN (SELECT h FROM bench) GROUP BY doc_id)
         | SELECT t.doc_id,
         |  round(coalesce(hit, 0)::DOUBLE / total, 6) AS overlap_ratio,
         |  CAST(round(coalesce(hit, 0)::DOUBLE / total, 6) > 0.5 AS INT) AS contaminated
         | FROM tot AS t LEFT JOIN hit USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // paragraphize exactly like the query (12-word chunks of the
    // RAW-case words joined by blank lines, re-split by the engine),
    // then replay the normalize → md5 → first-occurrence pipeline
    "dedup_paragraphs" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws
        |  FROM documents),
        | paras AS (SELECT doc_id,
        |  unnest(range(0, (len(ws) - 1) // 12 + 1)) AS para_idx,
        |  unnest([array_to_string(ws[i * 12 + 1 : i * 12 + 12], ' ')
        |          for i in range(0, (len(ws) - 1) // 12 + 1)]) AS para
        |  FROM w),
        | norm AS (SELECT doc_id, para_idx,
        |  trim(regexp_replace(regexp_replace(lower(para),
        |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS n
        |  FROM paras),
        | ranked AS (SELECT doc_id, para_idx,
        |  CASE WHEN row_number() OVER (PARTITION BY md5(n)
        |    ORDER BY doc_id, para_idx) > 1 THEN 1 ELSE 0 END AS dup
        |  FROM norm WHERE length(n) > 0)
        | SELECT doc_id, count(*) AS n_paras,
        |  CAST(sum(dup) AS BIGINT) AS dup_paras,
        |  round(sum(dup)::DOUBLE / count(*), 6) AS dup_para_frac
        | FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // persisted-LSH probe: signatures are per-doc independent, so
    // one sig CTE over all docs split by the history boundary
    // replays the stored index + fresh batch exactly; the hot-bucket
    // cap counts HISTORY postings only (the stored bsz)
    "store_dedup_probe" -> {
      val agree = (0 until K)
        .map(i => s"(CASE WHEN l.mh$i = r.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH sig AS ($SIG),
         | banded AS ($BANDED),
         | hb AS (SELECT * FROM banded WHERE doc_id < 400),
         | bb AS (SELECT * FROM banded WHERE doc_id >= 400),
         | hsz AS (SELECT band, bucket, count(*) AS bsz FROM hb GROUP BY 1, 2),
         | cands AS (SELECT DISTINCT h.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM hb AS h JOIN hsz ON hsz.band = h.band AND hsz.bucket = h.bucket
         |  JOIN bb AS b ON b.band = h.band AND b.bucket = h.bucket
         |  WHERE hsz.bsz <= $MAX_BUCKET)
         | SELECT doc_a, doc_b, CAST(agree AS BIGINT) AS agree,
         |  round(agree / ${K}.0, 6) AS est_jaccard
         | FROM (SELECT c.doc_a, c.doc_b, $agree AS agree
         |  FROM cands AS c JOIN sig AS l ON c.doc_a = l.doc_id
         |  JOIN sig AS r ON c.doc_b = r.doc_id) AS v
         | WHERE agree >= $MIN_AGREE ORDER BY doc_a, doc_b""".stripMargin.replace("\n", " ")
    },
    "dedup_spans_remove" ->
      """WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
        |  FROM documents),
        | spans AS (SELECT doc_id,
        |  unnest(range(0, (len(ws) - 1) // 10 + 1)) AS span_idx,
        |  unnest([array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ')
        |          for i in range(0, (len(ws) - 1) // 10 + 1)]) AS span
        |  FROM w),
        | ranked AS (SELECT doc_id, span_idx, span,
        |  row_number() OVER (PARTITION BY md5(span)
        |    ORDER BY doc_id, span_idx) AS rk
        |  FROM spans),
        | re AS (SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS kept_spans,
        |  coalesce(string_agg(CASE WHEN rk = 1 THEN span END, ' '
        |    ORDER BY span_idx), '') AS clean_text
        |  FROM ranked GROUP BY doc_id)
        | SELECT d.doc_id, coalesce(re.n_spans, 0) AS n_spans,
        |  coalesce(re.kept_spans, 0) AS kept_spans,
        |  coalesce(re.clean_text, '') AS clean_text
        | FROM (SELECT doc_id FROM documents) AS d
        | LEFT JOIN re USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "dedup_spans" ->
      """WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
        |  FROM documents),
        | spans AS (SELECT doc_id,
        |  unnest(range(0, (len(ws) - 1) // 10 + 1)) AS span_idx,
        |  unnest([array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ')
        |          for i in range(0, (len(ws) - 1) // 10 + 1)]) AS span
        |  FROM w),
        | ranked AS (SELECT doc_id, span_idx,
        |  CASE WHEN row_number() OVER (PARTITION BY md5(span)
        |    ORDER BY doc_id, span_idx) > 1 THEN 1 ELSE 0 END AS dup
        |  FROM spans)
        | SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(dup) AS BIGINT) AS dup_spans,
        |  round(sum(dup)::DOUBLE / count(*), 6) AS dup_span_frac
        | FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "sim_kmeans" ->
      s"WITH $KMEANS_CTES SELECT vec_id, cluster FROM a1 ORDER BY vec_id",
    // D4 prototypicality: same clustering CTEs, full squared
    // distance to the trained centroid, per-cluster rank on the
    // rounded distance, bottom dropFrac dropped
    "corpus_d4" ->
      s"""WITH $KMEANS_CTES,
         | d AS (SELECT a1.vec_id, a1.cluster,
         |   round(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
         |     + list_dot_product(c.cemb, c.cemb)
         |     - 2 * list_dot_product(e.embedding::DOUBLE[], c.cemb), 6) AS d2_v
         |  FROM a1 JOIN embeddings AS e USING (vec_id)
         |  JOIN cents1 AS c ON c.ci = a1.cluster),
         | r AS (SELECT vec_id, cluster, d2_v,
         |   row_number() OVER (PARTITION BY cluster
         |     ORDER BY d2_v ASC, vec_id ASC) AS proto_rank,
         |   count(*) OVER (PARTITION BY cluster) AS n_vecs
         |  FROM d)
         | SELECT vec_id, cluster, d2_v, proto_rank,
         |  CAST(n_vecs AS BIGINT) AS n_vecs,
         |  CAST(proto_rank > floor(0.25 * n_vecs) AS INT) AS kept
         | FROM r ORDER BY vec_id""".stripMargin.replace("\n", " "),
    "sim_centroid_label" ->
      """WITH cents AS (SELECT cl, list(mv ORDER BY j) AS cemb FROM (
        |  SELECT label AS cl, j, avg(v) AS mv FROM (
        |   SELECT label, j, (embedding::DOUBLE[])[j] AS v
        |   FROM embeddings CROSS JOIN
        |    (SELECT unnest(range(1, 65)) AS j) AS js
        |   WHERE vec_id >= 100) AS x GROUP BY label, j) AS g GROUP BY cl),
        | scored AS (SELECT e.vec_id, e.label, c.cl,
        |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |    (list_dot_product(c.cemb, c.cemb)
        |     - 2 * list_dot_product(e.embedding::DOUBLE[], c.cemb)) ASC,
        |    c.cl ASC) AS rn
        |  FROM embeddings AS e CROSS JOIN cents AS c WHERE e.vec_id < 100)
        | SELECT vec_id, label, cl AS pred_label,
        |  CAST(label = cl AS INT) AS correct
        | FROM scored WHERE rn = 1 ORDER BY vec_id""".stripMargin.replace("\n", " "),
    "corpus_domains" ->
      s"""WITH $KMEANS_CTES,
         | counts AS (SELECT a1.cluster, e.label, count(*) AS cnt
         |  FROM a1 JOIN embeddings AS e USING (vec_id)
         |  GROUP BY a1.cluster, e.label),
         | ranked AS (SELECT cluster, label, cnt,
         |   row_number() OVER (PARTITION BY cluster
         |     ORDER BY cnt DESC, label ASC) AS rn,
         |   sum(cnt) OVER (PARTITION BY cluster) AS n_vecs
         |  FROM counts)
         | SELECT cluster, CAST(n_vecs AS BIGINT) AS n_vecs,
         |  label AS top_label, round(cnt::DOUBLE / n_vecs, 6) AS top_frac
         | FROM ranked WHERE rn = 1 ORDER BY cluster""".stripMargin.replace("\n", " "),
    "dedup_semantic" ->
      s"""WITH $KMEANS_CTES
         | SELECT id_a, id_b, cluster, round(cos, 6) AS cos_v FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, x.cluster AS cluster,
         |   ${cosSql("a", "b")} AS cos
         |  FROM a1 AS x JOIN a1 AS y
         |   ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |  JOIN embeddings AS a ON a.vec_id = x.vec_id
         |  JOIN embeddings AS b ON b.vec_id = y.vec_id) AS t
         | WHERE cos > 0.40 ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
    // per-doc perplexity under the trigram KN: the same type-level
    // model tables, one (u,v,w → log2 p) model frame, occurrence join
    // scoring with the PRUNED model: a trigram absent from c3p
    // backs off to λ₃·p₂, p₂ itself degrading λ₂·p₁ → p₁ when the
    // continuation layer lost (v,w) / v — the left-join chain mirrors
    // Corpus.knTrigramPerplexity branch for branch
    "corpus_kn3_ppl" -> {
      val p2chain =
        s"""(CASE WHEN ct.n_vw IS NOT NULL THEN $kn3P2
           | WHEN cv.n_v_dot IS NOT NULL THEN
           |  $kn3Dd2 * cv.nplus_v::DOUBLE / cv.n_v_dot::DOUBLE * $kn3P1
           | ELSE $kn3P1 END)""".stripMargin.replace("\n", " ")
      val p3 =
        s"""(CASE WHEN t.c_uvw IS NOT NULL THEN
           |  greatest(t.c_uvw::DOUBLE - $kn3Dd3, 0.0) / h.c_uv::DOUBLE
           |   + $kn3Lam3 * $p2chain
           | ELSE $kn3Lam3 * $p2chain END)""".stripMargin.replace("\n", " ")
      s"""WITH $kn3Ctes
         | SELECT tg.doc_id, count(*) AS n_trigrams,
         |  round(-avg(log2($p3)), 6) AS cross_entropy_bits,
         |  round(power(2.0, -avg(log2($p3))), 6) AS ppl
         | FROM tg JOIN hist h ON h.u = tg.u AND h.v = tg.v
         |  LEFT JOIN c3p t ON t.u = tg.u AND t.v = tg.v AND t.w = tg.w
         |  LEFT JOIN cont ct ON ct.v = tg.v AND ct.w = tg.w
         |  LEFT JOIN cv0 cv ON cv.v = tg.v
         |  JOIN pw ON pw.w = tg.w
         |  CROSS JOIN nt CROSS JOIN g3 CROSS JOIN g2
         | GROUP BY tg.doc_id ORDER BY tg.doc_id"""
        .stripMargin.replace("\n", " ")
    },
    // trigram KN with singleton pruning: raw counts at the top order,
    // continuation counts below (Chen & Goodman eq. 18), per-order
    // discounts, pruned mass in λ₃ — top-100 RETAINED trigrams
    "corpus_kn3_lm" ->
      s"""WITH $kn3Ctes,
         | top AS (SELECT * FROM c3p
         |   ORDER BY c_uvw DESC, u ASC, v ASC, w ASC LIMIT 100)
         | SELECT t.u, t.v, t.w, t.c_uvw, h.c_uv, ct.n_vw, cv.n_v_dot,
         |  round($kn3Dd3, 6) AS d3, round($kn3Dd2, 6) AS d2,
         |  round($kn3Lam3, 9) AS lam3,
         |  round($kn3P2, 9) AS p2_backoff,
         |  round(${kn3P3("t")}, 9) AS p_kn3
         | FROM top t JOIN hist h ON h.u = t.u AND h.v = t.v
         | JOIN cont ct ON ct.v = t.v AND ct.w = t.w
         | JOIN cv0 cv ON cv.v = t.v JOIN pw ON pw.w = t.w
         | CROSS JOIN nt CROSS JOIN g3 CROSS JOIN g2
         | ORDER BY t.c_uvw DESC, t.u ASC, t.v ASC, t.w ASC"""
        .stripMargin.replace("\n", " "),
    // interpolated Kneser-Ney bigram LM: D = n1/(n1+2*n2);
    // p_kn(w|u) = max(c-D,0)/c_u + D*N1+(u.)/c_u * N1+(.w)/types —
    // the same fixed rational expression of exact integer counts
    // Corpus.knBigramLm computes
    "corpus_kn_lm" ->
      s"""WITH arr AS (SELECT doc_id,
         |  string_split_regex(lower(text), '\\s+') AS a FROM documents),
         | bg AS (SELECT doc_id, unnest(a[1:len(a)-1]) AS u,
         |   unnest(a[2:len(a)]) AS w FROM arr WHERE len(a) >= 2),
         | cuw AS (SELECT u, w, count(*) AS c_uw FROM bg GROUP BY 1, 2),
         | pu AS (SELECT u, CAST(sum(c_uw) AS BIGINT) AS c_u,
         |   count(*) AS nplus_u FROM cuw GROUP BY 1),
         | pw AS (SELECT w, count(*) AS nplus_w FROM cuw GROUP BY 1),
         | g AS (SELECT
         |   CAST(sum(CASE WHEN c_uw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |   CAST(sum(CASE WHEN c_uw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |   count(*) AS n_types FROM cuw),
         | top AS (SELECT * FROM cuw
         |   ORDER BY c_uw DESC, u ASC, w ASC LIMIT 100)
         | SELECT t.u, t.w, t.c_uw, pu.c_u, pu.nplus_u, pw.nplus_w,
         |  g.n_types,
         |  round((CASE WHEN g.n1 + 2 * g.n2 = 0 THEN 0.0
         |   ELSE g.n1::DOUBLE / (g.n1 + 2 * g.n2)::DOUBLE END), 6) AS discount,
         |  round((CASE WHEN g.n1 + 2 * g.n2 = 0 THEN 0.0
         |   ELSE g.n1::DOUBLE / (g.n1 + 2 * g.n2)::DOUBLE END)
         |    * pu.nplus_u::DOUBLE / pu.c_u::DOUBLE, 6) AS lambda_u,
         |  round(pw.nplus_w::DOUBLE / g.n_types::DOUBLE, 6) AS p_cont,
         |  round(greatest(t.c_uw::DOUBLE
         |     - (CASE WHEN g.n1 + 2 * g.n2 = 0 THEN 0.0
         |   ELSE g.n1::DOUBLE / (g.n1 + 2 * g.n2)::DOUBLE END), 0.0)
         |    / pu.c_u::DOUBLE
         |   + (CASE WHEN g.n1 + 2 * g.n2 = 0 THEN 0.0
         |   ELSE g.n1::DOUBLE / (g.n1 + 2 * g.n2)::DOUBLE END)
         |    * pu.nplus_u::DOUBLE / pu.c_u::DOUBLE
         |    * (pw.nplus_w::DOUBLE / g.n_types::DOUBLE), 6) AS p_kn
         | FROM top t JOIN pu ON pu.u = t.u JOIN pw ON pw.w = t.w
         | CROSS JOIN g
         | ORDER BY t.c_uw DESC, t.u ASC, t.w ASC"""
        .stripMargin.replace("\n", " "),
    "corpus_kn_ppl" ->
      s"""WITH arr AS (SELECT doc_id,
         |  string_split_regex(lower(text), '\\s+') AS a FROM documents),
         | bg AS (SELECT doc_id, unnest(a[1:len(a)-1]) AS u,
         |   unnest(a[2:len(a)]) AS w FROM arr WHERE len(a) >= 2),
         | cuw AS (SELECT u, w, count(*) AS c_uw FROM bg GROUP BY 1, 2),
         | pu AS (SELECT u, CAST(sum(c_uw) AS BIGINT) AS c_u,
         |   count(*) AS nplus_u FROM cuw GROUP BY 1),
         | pw AS (SELECT w, count(*) AS nplus_w FROM cuw GROUP BY 1),
         | g AS (SELECT
         |   CAST(sum(CASE WHEN c_uw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |   CAST(sum(CASE WHEN c_uw = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |   count(*) AS n_types FROM cuw),
         | model AS (SELECT c.u, c.w, log2(
         |   greatest(c.c_uw::DOUBLE
         |      - (CASE WHEN g.n1 + 2 * g.n2 = 0 THEN 0.0
         |   ELSE g.n1::DOUBLE / (g.n1 + 2 * g.n2)::DOUBLE END), 0.0)
         |     / pu.c_u::DOUBLE
         |    + (CASE WHEN g.n1 + 2 * g.n2 = 0 THEN 0.0
         |   ELSE g.n1::DOUBLE / (g.n1 + 2 * g.n2)::DOUBLE END)
         |     * pu.nplus_u::DOUBLE / pu.c_u::DOUBLE
         |     * (pw.nplus_w::DOUBLE / g.n_types::DOUBLE)) AS lp
         |  FROM cuw c JOIN pu ON pu.u = c.u JOIN pw ON pw.w = c.w
         |  CROSS JOIN g)
         | SELECT doc_id, count(*) AS n_bigrams,
         |  round(-avg(lp), 6) AS cross_entropy_bits,
         |  round(power(2.0, -avg(lp)), 6) AS ppl
         | FROM bg JOIN model m ON m.u = bg.u AND m.w = bg.w
         | GROUP BY doc_id ORDER BY doc_id"""
        .stripMargin.replace("\n", " "),
    "corpus_vocab" ->
      """WITH stats AS (SELECT w AS word, count(*) AS tf,
        |  count(DISTINCT doc_id) AS df
        |  FROM (SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |   FROM documents) AS u GROUP BY w)
        | SELECT word, tf, df,
        |  row_number() OVER (ORDER BY tf DESC, word ASC) AS rank
        | FROM stats ORDER BY tf DESC, word ASC LIMIT 100""".stripMargin.replace("\n", " "),
    "corpus_heaps" ->
      """WITH pts AS (SELECT ln(len(ws)::DOUBLE) AS x,
        |  ln(len(list_distinct(ws))::DOUBLE) AS y
        | FROM (SELECT string_split_regex(lower(text), '\s+') AS ws
        |       FROM documents) AS t)
        | SELECT count(*) AS n_docs,
        |  round(regr_slope(y, x), 6) AS heaps_beta,
        |  round(exp(regr_intercept(y, x)), 6) AS heaps_k,
        |  round(regr_r2(y, x), 6) AS r2
        | FROM pts""".stripMargin.replace("\n", " "),
    "corpus_lang_confusion" -> {
      val langs = Seq("en", "de", "fr", "es")
      val lists = langs.map { l =>
        val sw = TextAnalysis.stopwords(l).map(s => s"'$s'").mkString(", ")
        s"len(list_filter(ws, x -> list_contains([$sw], x)))::DOUBLE / len(ws) AS score_$l"
      }.mkString(", ")
      s"""WITH sc AS (SELECT lang, $lists
         |  FROM (SELECT lang, string_split_regex(lower(text), '\\s+') AS ws
         |        FROM documents) AS t),
         | pred AS (SELECT lang,
         |  CASE WHEN greatest(score_en, score_de, score_fr, score_es) <= 0 THEN 'und'
         |   WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
         |   WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
         |   WHEN score_fr >= score_es THEN 'fr' ELSE 'es' END AS pred_lang
         |  FROM sc)
         | SELECT lang, pred_lang, count(*) AS n FROM pred
         | GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin.replace("\n", " ")
    },
    "corpus_lang_mismatch" -> {
      val langs = Seq("en", "de", "fr", "es")
      val lists = langs.map { l =>
        val sw = TextAnalysis.stopwords(l).map(s => s"'$s'").mkString(", ")
        s"len(list_filter(ws, x -> list_contains([$sw], x)))::DOUBLE / len(ws) AS score_$l"
      }.mkString(", ")
      s"""WITH sc AS (SELECT source, lang, $lists
         |  FROM (SELECT source, lang, string_split_regex(lower(text), '\\s+') AS ws
         |        FROM documents) AS t),
         | pred AS (SELECT source, lang,
         |  CASE WHEN greatest(score_en, score_de, score_fr, score_es) <= 0 THEN 'und'
         |   WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
         |   WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
         |   WHEN score_fr >= score_es THEN 'fr' ELSE 'es' END AS pred_lang
         |  FROM sc)
         | SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN pred_lang = 'und' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_und,
         |  CAST(sum(CASE WHEN pred_lang <> 'und' AND pred_lang <> lang
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
         |  round(sum(CASE WHEN pred_lang <> 'und' AND pred_lang <> lang
         |    THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS mismatch_rate
         | FROM pred GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")
    },
    "corpus_zipf" ->
      """WITH stats AS (SELECT w AS word, count(*) AS tf
        |  FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |   FROM documents) AS u GROUP BY w),
        | top AS (SELECT tf,
        |   row_number() OVER (ORDER BY tf DESC, word ASC) AS rank
        |  FROM stats ORDER BY tf DESC, word ASC LIMIT 100),
        | pts AS (SELECT ln(rank::DOUBLE) AS x, ln(tf::DOUBLE) AS y FROM top)
        | SELECT count(*) AS n_words,
        |  round(regr_slope(y, x), 6) AS zipf_slope,
        |  round(regr_intercept(y, x), 6) AS intercept,
        |  round(regr_r2(y, x), 6) AS r2
        | FROM pts""".stripMargin.replace("\n", " "),
    "corpus_card" ->
      s"""WITH base AS (SELECT count(*) AS n_docs,
         |  count(DISTINCT source) AS n_sources,
         |  CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT)
         |    AS n_tokens FROM documents),
         | ex AS (SELECT round(avg(CASE WHEN rn > 1 THEN 1.0 ELSE 0.0 END), 6)
         |    AS exact_dup_frac FROM
         |  (SELECT row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
         |     AS rn FROM documents) AS t),
         | gq AS (SELECT round(avg(CASE WHEN mean_word_len >= 3
         |     AND mean_word_len <= 10 AND dup_line_frac <= 0.3
         |     AND symbol_ratio <= 0.1 THEN 1.0 ELSE 0.0 END), 6)
         |    AS gopher_pass_frac FROM ($GOPHER_INNER) AS q),
         | vstats AS (SELECT w AS word, count(*) AS tf
         |  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
         |   FROM documents) AS u GROUP BY w),
         | vtop AS (SELECT tf,
         |   row_number() OVER (ORDER BY tf DESC, word ASC) AS rank
         |  FROM vstats ORDER BY tf DESC, word ASC LIMIT 100),
         | z AS (SELECT round(regr_slope(ln(tf::DOUBLE), ln(rank::DOUBLE)), 6)
         |    AS zipf_slope FROM vtop)
         | SELECT * FROM base, ex, gq, z""".stripMargin.replace("\n", " "),
    "corpus_cluster_stats" ->
      s"""WITH RECURSIVE sig AS ($SIG), banded AS ($BANDED),
         | capped AS (SELECT doc_id, band, bucket FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded) AS z
         |  WHERE bsz <= $MAX_BUCKET),
         | p AS ($PAIRS), v AS ($VERIFIED),
         | edges AS (SELECT doc_a AS src, doc_b AS dst FROM v
         |  UNION SELECT doc_b AS src, doc_a AS dst FROM v),
         | reach(node, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach AS r JOIN edges AS e ON e.src = r.node),
         | cl AS (SELECT node AS doc_id, min(root) AS cluster_id
         |  FROM reach GROUP BY node),
         | szs AS (SELECT cluster_id, count(*) AS cluster_size
         |  FROM cl GROUP BY cluster_id)
         | SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(sum(cluster_size) AS BIGINT) AS n_docs,
         |  CAST(sum(cluster_size - 1) AS BIGINT) AS docs_removable
         | FROM szs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin.replace("\n", " "),
    "corpus_mixture" ->
      """WITH toks AS (SELECT doc_id, source,
        |  CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        | tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM toks GROUP BY source),
        | w AS (SELECT * FROM (VALUES ('src0', 300), ('src1', 200), ('src2', 100))
        |  AS t(source, permille))
        | SELECT t.doc_id, t.source, t.n_tokens,
        |  CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |    % 1000000 AS bucket_ppm,
        |  CAST(CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |    % 1000000 * tot.src_tokens * 1000 <
        |   coalesce(w.permille, 25)::BIGINT * 2000 * 1000000 AS INT) AS sampled
        | FROM toks AS t JOIN tot USING (source) LEFT JOIN w USING (source)
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "text_tfidf" ->
      """WITH w AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents),
        | tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
        | df AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word),
        | n AS (SELECT count(*) AS n_docs FROM documents)
        | SELECT doc_id, word, tf, df, round(tfidf, 6) AS tfidf_v, rk FROM (
        |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |   tf.tf * ln(n.n_docs::DOUBLE / df.df) AS tfidf,
        |   row_number() OVER (PARTITION BY tf.doc_id
        |     ORDER BY round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 6) DESC,
        |       tf.word ASC) AS rk
        |  FROM tf JOIN df USING (word) CROSS JOIN n) AS t
        | WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin.replace("\n", " "),
    "text_perplexity" ->
      """WITH wd AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        | c AS (SELECT w, count(*) AS c FROM wd GROUP BY w),
        | t AS (SELECT sum(c) AS n_total, count(*) AS vocab FROM c),
        | lm AS (SELECT w, ln((c + 1)::DOUBLE / (n_total + vocab)::DOUBLE)
        |   AS logp FROM c, t)
        | SELECT doc_id, count(*) AS n_words,
        |  round(-avg(logp), 6) AS cross_entropy,
        |  round(exp(-avg(logp)), 6) AS ppl
        | FROM wd JOIN lm USING (w) GROUP BY doc_id
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "text_bigram" ->
      """WITH wd AS (SELECT doc_id,
        |  string_split_regex(lower(text), '\s+') AS ws FROM documents),
        | bi AS (SELECT doc_id,
        |  unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS bg
        |  FROM wd WHERE len(ws) >= 2),
        | c12 AS (SELECT bg, count(*) AS c12 FROM bi GROUP BY bg),
        | c1 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
        |  FROM c12 GROUP BY 1),
        | v AS (SELECT count(DISTINCT w) AS vocab FROM
        |  (SELECT unnest(ws) AS w FROM wd) AS u),
        | lm AS (SELECT bg,
        |  ln((c12 + 1)::DOUBLE / (c1 + vocab)::DOUBLE) AS logp
        |  FROM c12 JOIN c1 ON split_part(c12.bg, ' ', 1) = c1.w1 CROSS JOIN v)
        | SELECT doc_id, count(*) AS n_bigrams,
        |  round(-avg(logp), 6) AS cross_entropy,
        |  round(exp(-avg(logp)), 6) AS ppl
        | FROM bi JOIN lm USING (bg) GROUP BY doc_id
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "text_kn" ->
      """WITH wd AS (SELECT doc_id,
        |  string_split_regex(lower(text), '\s+') AS ws FROM documents),
        | bi AS (SELECT doc_id,
        |  unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS bg
        |  FROM wd WHERE len(ws) >= 2),
        | c12 AS (SELECT bg, split_part(bg, ' ', 1) AS w1,
        |  split_part(bg, ' ', 2) AS w2, count(*) AS c12
        |  FROM bi GROUP BY bg),
        | fwd AS (SELECT w1, sum(c12) AS c1, count(*) AS n_fwd
        |  FROM c12 GROUP BY w1),
        | bwd AS (SELECT w2, count(*) AS n_bwd FROM c12 GROUP BY w2),
        | t AS (SELECT count(*) AS t_types FROM c12),
        | lm AS (SELECT bg,
        |  ln(greatest(c12 - 0.75, 0.0) / c1 +
        |   0.75 * n_fwd / c1 * (n_bwd::DOUBLE / t_types)) AS logp
        |  FROM c12 JOIN fwd USING (w1) JOIN bwd USING (w2) CROSS JOIN t)
        | SELECT doc_id, count(*) AS n_bigrams,
        |  round(-avg(logp), 6) AS cross_entropy,
        |  round(exp(-avg(logp)), 6) AS ppl
        | FROM bi JOIN lm USING (bg) GROUP BY doc_id
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "text_readability" ->
      """WITH b AS (SELECT doc_id,
        |  greatest(len(regexp_extract_all(lower(text), '[^\s]+')), 1)::DOUBLE AS w,
        |  greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::DOUBLE AS s,
        |  greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)::DOUBLE AS syl,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]'))::DOUBLE AS c
        | FROM documents)
        | SELECT doc_id, w::BIGINT AS n_words, s::BIGINT AS n_sents,
        |  syl::BIGINT AS n_syllables, c::BIGINT AS n_chars,
        |  floor((206.835 - 1.015 * (w / s) - 84.6 * (syl / w)) * 1000000.0)
        |   / 1000000.0 AS flesch,
        |  floor((4.71 * (c / w) + 0.5 * (w / s) - 21.43) * 1000000.0)
        |   / 1000000.0 AS ari
        | FROM b ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "corpus_hll" ->
      """WITH tok AS (SELECT source,
        |  unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        | hx AS (SELECT source, md5(w) AS h FROM tok),
        | rk AS (SELECT source, CAST('0x' || substr(h, 1, 2) AS BIGINT) AS idx,
        |  CASE WHEN length(regexp_replace(substr(h, 3, 13), '^0+', '')) = 0
        |   THEN 53
        |   ELSE (13 - length(regexp_replace(substr(h, 3, 13), '^0+', ''))) * 4
        |    + (CASE substr(regexp_replace(substr(h, 3, 13), '^0+', ''), 1, 1)
        |       WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |       WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |       WHEN '7' THEN 1 ELSE 0 END) + 1 END AS rr
        |  FROM hx),
        | regs AS (SELECT source, idx, max(rr) AS mj FROM rk
        |  GROUP BY source, idx),
        | per AS (SELECT source, count(*) AS used_registers,
        |  sum(1::BIGINT << CAST(53 - mj AS INT)) AS s_int
        |  FROM regs GROUP BY source),
        | ex AS (SELECT source, count(DISTINCT w) AS exact_distinct
        |  FROM tok GROUP BY source),
        | calc AS (SELECT per.source, used_registers,
        |  256 - used_registers AS v_zero,
        |  0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
        |   / (s_int + (256 - used_registers) * 9007199254740992::BIGINT)
        |   AS raw, exact_distinct
        |  FROM per JOIN ex ON ex.source = per.source),
        | fin AS (SELECT source, used_registers, v_zero, raw,
        |  CASE WHEN raw <= 2.5 * 256.0 AND v_zero > 0
        |   THEN 256.0 * ln(256.0 / v_zero) ELSE raw END AS est,
        |  exact_distinct FROM calc)
        | SELECT source, used_registers, v_zero, round(raw, 6) AS e_raw,
        |  round(est, 6) AS estimate, exact_distinct,
        |  round((est - exact_distinct) / exact_distinct, 6) AS rel_err
        | FROM fin ORDER BY source""".stripMargin.replace("\n", " "),
    "corpus_hll_overlap" ->
      """WITH tok AS (SELECT source,
        |  unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        | hx AS (SELECT source, md5(w) AS h FROM tok),
        | rk AS (SELECT source, CAST('0x' || substr(h, 1, 2) AS BIGINT) AS idx,
        |  CASE WHEN length(regexp_replace(substr(h, 3, 13), '^0+', '')) = 0
        |   THEN 53
        |   ELSE (13 - length(regexp_replace(substr(h, 3, 13), '^0+', ''))) * 4
        |    + (CASE substr(regexp_replace(substr(h, 3, 13), '^0+', ''), 1, 1)
        |       WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |       WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |       WHEN '7' THEN 1 ELSE 0 END) + 1 END AS rr
        |  FROM hx),
        | regs AS (SELECT source, idx, max(rr) AS mj FROM rk
        |  GROUP BY source, idx),
        | est1 AS (SELECT source,
        |  count(*) AS used,
        |  sum(1::BIGINT << CAST(53 - mj AS INT)) AS s_int FROM regs
        |  GROUP BY source),
        | estv AS (SELECT source,
        |  CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |    * 9007199254740992.0 / (s_int + (256 - used)
        |    * 9007199254740992::BIGINT)) <= 2.5 * 256.0 AND 256 - used > 0
        |   THEN 256.0 * ln(256.0 / (256 - used))
        |   ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |    * 9007199254740992.0 / (s_int + (256 - used)
        |    * 9007199254740992::BIGINT) END AS est FROM est1),
        | pr AS (SELECT l.source AS source_a, r.source AS source_b,
        |   l.est AS est_a, r.est AS est_b
        |  FROM estv l JOIN estv r ON l.source < r.source),
        | ur AS (SELECT p.source_a, p.source_b, g.idx, max(g.mj) AS mj
        |  FROM pr p JOIN regs g
        |   ON g.source = p.source_a OR g.source = p.source_b
        |  GROUP BY 1, 2, 3),
        | ue AS (SELECT source_a, source_b, count(*) AS used,
        |  sum(1::BIGINT << CAST(53 - mj AS INT)) AS s_int FROM ur
        |  GROUP BY 1, 2),
        | uev AS (SELECT source_a, source_b,
        |  CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |    * 9007199254740992.0 / (s_int + (256 - used)
        |    * 9007199254740992::BIGINT)) <= 2.5 * 256.0 AND 256 - used > 0
        |   THEN 256.0 * ln(256.0 / (256 - used))
        |   ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
        |    * 9007199254740992.0 / (s_int + (256 - used)
        |    * 9007199254740992::BIGINT) END AS est_union FROM ue),
        | voc AS (SELECT DISTINCT source, w FROM tok),
        | xi AS (SELECT l.source AS source_a, r.source AS source_b,
        |   count(*) AS exact_inter
        |  FROM voc l JOIN voc r ON l.w = r.w AND l.source < r.source
        |  GROUP BY 1, 2),
        | fin AS (SELECT pr.source_a, pr.source_b, pr.est_a, pr.est_b,
        |   uev.est_union,
        |   greatest(0.0, pr.est_a + pr.est_b - uev.est_union) AS inter,
        |   coalesce(xi.exact_inter, 0) AS exact_inter
        |  FROM pr JOIN uev ON uev.source_a = pr.source_a
        |   AND uev.source_b = pr.source_b
        |  LEFT JOIN xi ON xi.source_a = pr.source_a
        |   AND xi.source_b = pr.source_b)
        | SELECT source_a, source_b, round(est_a, 6) AS est_a,
        |  round(est_b, 6) AS est_b, round(est_union, 6) AS est_union,
        |  round(inter, 6) AS est_inter,
        |  round(inter / est_union, 6) AS jaccard_est,
        |  CAST(exact_inter AS BIGINT) AS exact_inter
        | FROM fin ORDER BY source_a, source_b"""
        .stripMargin.replace("\n", " "),
    "corpus_cms" ->
      """WITH tok AS (SELECT
        |  unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        | sal AS (SELECT unnest([0, 1, 2, 3]) AS salt),
        | sk AS (SELECT salt,
        |  CAST('0x' || substr(md5(salt::VARCHAR || ':' || w), 1, 8) AS BIGINT)
        |   % 256 AS bucket, count(*) AS c
        |  FROM tok CROSS JOIN sal GROUP BY 1, 2),
        | top AS (SELECT w, count(*) AS exact_c FROM tok GROUP BY w
        |  ORDER BY exact_c DESC, w ASC LIMIT 20),
        | probe AS (SELECT top.w, top.exact_c, min(sk.c) AS est_c
        |  FROM top CROSS JOIN sal
        |  JOIN sk ON sk.salt = sal.salt AND sk.bucket =
        |   CAST('0x' || substr(md5(sal.salt::VARCHAR || ':' || top.w), 1, 8)
        |    AS BIGINT) % 256
        |  GROUP BY top.w, top.exact_c)
        | SELECT w AS word, exact_c, est_c, est_c - exact_c AS over_c,
        |  row_number() OVER (ORDER BY exact_c DESC, w ASC) AS rk
        | FROM probe ORDER BY rk""".stripMargin.replace("\n", " "),
    "corpus_pmi" ->
      """WITH wd AS (SELECT
        |  string_split_regex(lower(text), '\s+') AS ws FROM documents),
        | bi AS (SELECT
        |  unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS bg
        |  FROM wd WHERE len(ws) >= 2),
        | c12 AS (SELECT bg, count(*) AS c12 FROM bi GROUP BY bg),
        | uni AS (SELECT unnest(ws) AS w FROM wd),
        | uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
        | nt AS (SELECT sum(c) AS n_tok FROM uc),
        | bt AS (SELECT sum(c12) AS n_bg FROM c12),
        | sc AS (SELECT bg AS bigram, c12.c12 AS c12, u1.c AS c1, u2.c AS c2,
        |  ln(c12.c12::DOUBLE / n_bg / (u1.c::DOUBLE / n_tok)
        |   / (u2.c::DOUBLE / n_tok)) AS pmi
        |  FROM c12
        |  JOIN uc u1 ON u1.w = split_part(bg, ' ', 1)
        |  JOIN uc u2 ON u2.w = split_part(bg, ' ', 2)
        |  CROSS JOIN nt CROSS JOIN bt
        |  WHERE c12.c12 >= 5)
        | SELECT bigram, c12, c1, c2, round(pmi, 6) AS pmi_v,
        |  row_number() OVER (ORDER BY pmi DESC, bigram ASC) AS rk
        | FROM sc ORDER BY pmi DESC, bigram ASC LIMIT 20"""
        .stripMargin.replace("\n", " "),
    "dedup_winnow" ->
      """WITH nt AS (SELECT doc_id,
        |  regexp_replace(lower(text), '\s+', '', 'g') AS t FROM documents),
        | bs AS (SELECT doc_id, t, len(t) - 4 AS np FROM nt
        |  WHERE len(t) - 4 >= 4),
        | g AS (SELECT doc_id, np, t,
        |  unnest([i for i in range(1, np + 1)]) AS pos FROM bs),
        | gh AS (SELECT doc_id, np, pos,
        |  CAST('0x' || substr(md5(substr(t, pos, 5)), 1, 8) AS BIGINT) AS h
        |  FROM g),
        | sel AS (SELECT doc_id, np, pos,
        |  max({'nh': -h, 'p': pos}) OVER (PARTITION BY doc_id ORDER BY pos
        |   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS pick
        |  FROM gh),
        | fp AS (SELECT DISTINCT doc_id, -(pick.nh) AS fp_h FROM sel
        |  WHERE pos <= np - 3),
        | hot AS (SELECT fp_h FROM (SELECT fp_h, count(*) AS nd FROM fp
        |  GROUP BY fp_h) x WHERE nd <= 50),
        | cp AS (SELECT fp.doc_id, fp.fp_h FROM fp JOIN hot USING (fp_h)),
        | pr AS (SELECT f1.doc_id AS a, f2.doc_id AS b, count(*) AS shared
        |  FROM cp f1 JOIN cp f2 ON f1.fp_h = f2.fp_h
        |   AND f1.doc_id < f2.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        | SELECT a, b, shared,
        |  row_number() OVER (ORDER BY shared DESC, a, b) AS rk
        | FROM pr ORDER BY shared DESC, a, b LIMIT 20"""
        .stripMargin.replace("\n", " "),
    "dedup_suffix_spectrum" -> {
      // 6 hash-doubling rounds, each MATERIALIZED (the CTE is
      // referenced by the next round AND its own stats leg —
      // unchecked inlining doubles the tree per round, the
      // BPE-oracle blowup class)
      val stats = Seq(1, 2, 4, 8, 16, 32, 64).zipWithIndex
        .map { case (l, i) =>
          s"""SELECT CAST($l AS BIGINT) AS prefix_len,
             | CAST(sum(cnt) AS BIGINT) AS n_suffixes,
             | CAST(count(*) AS BIGINT) AS n_groups,
             | CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
             |  AS n_dup_suffixes,
             | CAST(max(cnt) AS BIGINT) AS max_group
             | FROM (SELECT g, count(*) AS cnt FROM p$i GROUP BY g) g$i"""
            .stripMargin.replace("\n", " ")
        }.mkString(" UNION ALL ")
      s"""WITH $SUFFIX_ROUNDS
         | SELECT * FROM ($stats) s ORDER BY prefix_len"""
        .stripMargin.replace("\n", " ")
    },
    // sketch-mode spectrum: same chain, estimators replayed from the
    // same md5 hex ranges the engine carves (chars 1-2 HLL idx, 3-15
    // rank, 17-18 sample gate < 4, 19-30 three CMS rows); depths 1-2
    // exact (bounded alphabet census), 4+ sketched
    "dedup_suffix_spectrum_sketch" -> {
      val rank = """CASE WHEN length(regexp_replace(substr(h, 3, 13), '^0+', '')) = 0
        | THEN 53
        | ELSE (13 - length(regexp_replace(substr(h, 3, 13), '^0+', ''))) * 4
        |  + (CASE substr(regexp_replace(substr(h, 3, 13), '^0+', ''), 1, 1)
        |     WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |     WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |     WHEN '7' THEN 1 ELSE 0 END) + 1 END""".stripMargin.replace("\n", " ")
      s"""WITH $SUFFIX_ROUNDS,
         | m AS MATERIALIZED (
         |  SELECT CAST(1 AS BIGINT) AS prefix_len, g FROM p0
         |  UNION ALL SELECT 2, g FROM p1 UNION ALL SELECT 4, g FROM p2
         |  UNION ALL SELECT 8, g FROM p3 UNION ALL SELECT 16, g FROM p4
         |  UNION ALL SELECT 32, g FROM p5 UNION ALL SELECT 64, g FROM p6),
         | nn AS (SELECT CAST(count(*) AS BIGINT) AS n_suffixes FROM p0),
         | h AS MATERIALIZED (SELECT prefix_len, g, md5(g::VARCHAR) AS h
         |  FROM m),
         | hreg AS (SELECT prefix_len,
         |  CAST('0x' || substr(h, 1, 2) AS BIGINT) AS idx,
         |  max($rank) AS mj FROM h GROUP BY 1, 2),
         | hper AS (SELECT prefix_len, count(*) AS used,
         |  sum(1::BIGINT << CAST(53 - mj AS INT)) AS s_int
         |  FROM hreg GROUP BY 1),
         | hest AS (SELECT prefix_len,
         |  round(CASE WHEN raw <= 2.5 * 256.0 AND v_zero > 0
         |   THEN 256.0 * ln(256.0 / v_zero) ELSE raw END, 6)
         |   AS n_groups_hll
         |  FROM (SELECT prefix_len, 256 - used AS v_zero,
         |   0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
         |    / (s_int + (256 - used) * 9007199254740992::BIGINT) AS raw
         |   FROM hper) t),
         | ex AS (SELECT prefix_len,
         |  CAST(count(*) AS BIGINT) AS n_groups_est,
         |  CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
         |   AS n_dup_suffixes_est,
         |  CAST(max(cnt) AS BIGINT) AS max_group_est
         |  FROM (SELECT prefix_len, g, count(*) AS cnt FROM m
         |   WHERE prefix_len <= 2 GROUP BY 1, 2) c GROUP BY 1),
         | sg AS (SELECT prefix_len, g, count(*) AS cnt FROM h
         |  WHERE prefix_len >= 4
         |   AND CAST('0x' || substr(h, 17, 2) AS BIGINT) < 4
         |  GROUP BY 1, 2),
         | samp AS (SELECT prefix_len,
         |  CAST(64 * count(*) AS BIGINT) AS n_groups_est,
         |  CAST(64 * sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_singl FROM sg GROUP BY 1),
         | cmsc AS (SELECT prefix_len, r, bucket, count(*) AS c FROM (
         |  SELECT prefix_len, 0 AS r,
         |   CAST('0x' || substr(h, 19, 4) AS BIGINT) AS bucket FROM h
         |   WHERE prefix_len >= 4
         |  UNION ALL SELECT prefix_len, 1,
         |   CAST('0x' || substr(h, 23, 4) AS BIGINT) FROM h
         |   WHERE prefix_len >= 4
         |  UNION ALL SELECT prefix_len, 2,
         |   CAST('0x' || substr(h, 27, 4) AS BIGINT) FROM h
         |   WHERE prefix_len >= 4) z GROUP BY 1, 2, 3),
         | cms AS (SELECT prefix_len,
         |  CAST(min(rowmax) AS BIGINT) AS max_group_est FROM
         |  (SELECT prefix_len, r, max(c) AS rowmax FROM cmsc
         |   GROUP BY 1, 2) t GROUP BY 1),
         | uni AS (
         |  SELECT prefix_len, 'exact' AS mode, n_groups_est,
         |   n_dup_suffixes_est, max_group_est FROM ex
         |  UNION ALL
         |  SELECT c.prefix_len, 'sketch',
         |   coalesce(s.n_groups_est, 0),
         |   CAST(greatest(0, nn.n_suffixes - coalesce(s.n_singl, 0))
         |    AS BIGINT),
         |   c.max_group_est
         |  FROM cms c LEFT JOIN samp s USING (prefix_len), nn)
         | SELECT u.prefix_len, u.mode, nn.n_suffixes,
         |  CAST(u.n_groups_est AS BIGINT) AS n_groups_est,
         |  CAST(u.n_dup_suffixes_est AS BIGINT) AS n_dup_suffixes_est,
         |  CAST(u.max_group_est AS BIGINT) AS max_group_est,
         |  hest.n_groups_hll
         | FROM uni u JOIN hest USING (prefix_len), nn
         | ORDER BY prefix_len""".stripMargin.replace("\n", " ")
    },
    // sketch-mode repeats: position-space 1/16 sample
    // (md5(doc:pos) byte < 16), exact census of the sampled rows,
    // unbiased 16× size estimate
    "dedup_suffix_repeats_sketch" ->
      s"""WITH $SUFFIX_ROUNDS,
         | sp AS MATERIALIZED (SELECT doc_id, pos, g FROM p6
         |  WHERE CAST('0x' || substr(md5(doc_id::VARCHAR || ':' ||
         |   pos::VARCHAR), 1, 2) AS BIGINT) < 16),
         | g1 AS (SELECT g, count(*) AS samp_size,
         |  count(DISTINCT doc_id) AS n_docs_samp, min(doc_id) AS doc_id
         |  FROM sp GROUP BY g HAVING count(*) > 1),
         | g2 AS (SELECT g1.g, g1.samp_size, g1.n_docs_samp, g1.doc_id,
         |  min(sp.pos) AS pos FROM g1 JOIN sp ON sp.g = g1.g
         |   AND sp.doc_id = g1.doc_id GROUP BY 1, 2, 3, 4),
         | t AS (SELECT samp_size, n_docs_samp, doc_id, pos FROM g2
         |  ORDER BY samp_size DESC, doc_id, pos LIMIT 10)
         | SELECT CAST(t.samp_size * 16 AS BIGINT) AS est_grp_size,
         |  CAST(t.samp_size AS BIGINT) AS samp_size,
         |  CAST(t.n_docs_samp AS BIGINT) AS n_docs_samp,
         |  t.doc_id, CAST(t.pos AS BIGINT) AS pos,
         |  substr(d.text, t.pos::INT, 64) AS snippet,
         |  row_number() OVER (ORDER BY t.samp_size DESC, t.doc_id, t.pos)
         |   AS rk
         | FROM t JOIN documents d ON d.doc_id = t.doc_id ORDER BY rk"""
        .stripMargin.replace("\n", " "),
    // the suffix chain's depth columns p3/p4/p5/p6 = prefix lengths
    // 8/16/32/64; bench groups from the eval split, train positions
    // semi-joined per depth
    "corpus_decontam_exact" ->
      s"""WITH $SUFFIX_ROUNDS,
         | m AS (SELECT doc_id, CAST(8 AS BIGINT) AS prefix_len, g FROM p3
         |  UNION ALL SELECT doc_id, 16, g FROM p4
         |  UNION ALL SELECT doc_id, 32, g FROM p5
         |  UNION ALL SELECT doc_id, 64, g FROM p6),
         | bg AS (SELECT DISTINCT prefix_len, g FROM m WHERE doc_id < 25),
         | h AS (SELECT m.doc_id, m.prefix_len, count(*) AS n_hits
         |  FROM m JOIN bg USING (prefix_len, g)
         |  WHERE m.doc_id >= 25 GROUP BY 1, 2),
         | grid AS (SELECT doc_id,
         |   CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS prefix_len
         |  FROM documents WHERE doc_id >= 25)
         | SELECT g.doc_id, g.prefix_len,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) > 0 AS INT) AS contaminated
         | FROM grid g LEFT JOIN h USING (doc_id, prefix_len)
         | ORDER BY doc_id, prefix_len""".stripMargin.replace("\n", " "),
    // depth-32 hit windows unioned per doc (range() caps at the doc
    // tail like the engine's least())
    "corpus_decontam_remove" ->
      s"""WITH $SUFFIX_ROUNDS,
         | bg AS (SELECT DISTINCT g FROM p5 WHERE doc_id < 25),
         | h AS (SELECT p5.doc_id, p5.pos FROM p5 JOIN bg USING (g)
         |  WHERE p5.doc_id >= 25),
         | l AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS len
         |  FROM documents WHERE doc_id >= 25),
         | cov AS (SELECT doc_id, count(DISTINCT cpos) AS n_removed FROM (
         |  SELECT h.doc_id,
         |   unnest([i for i in range(pos, least(pos + 32, len + 1))]) AS cpos
         |  FROM h JOIN l USING (doc_id)) AS e GROUP BY 1),
         | nh AS (SELECT doc_id, count(*) AS n_hits FROM h GROUP BY 1)
         | SELECT l.doc_id, CAST(coalesce(nh.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(cov.n_removed, 0) AS BIGINT) AS n_removed,
         |  CAST(l.len - coalesce(cov.n_removed, 0) AS BIGINT) AS n_kept
         | FROM l LEFT JOIN nh USING (doc_id) LEFT JOIN cov USING (doc_id)
         | ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "dedup_suffix_repeats" ->
      s"""WITH $SUFFIX_ROUNDS,
         | g1 AS (SELECT g, count(*) AS grp_size,
         |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS doc_id
         |  FROM p6 GROUP BY g HAVING count(*) > 1),
         | g2 AS (SELECT g1.g, g1.grp_size, g1.n_docs, g1.doc_id,
         |  min(p6.pos) AS pos FROM g1 JOIN p6 ON p6.g = g1.g
         |   AND p6.doc_id = g1.doc_id GROUP BY 1, 2, 3, 4),
         | t AS (SELECT grp_size, n_docs, doc_id, pos FROM g2
         |  ORDER BY grp_size DESC, doc_id, pos LIMIT 10)
         | SELECT t.grp_size, t.n_docs, t.doc_id, t.pos,
         |  substr(d.text, t.pos::INT, 64) AS snippet,
         |  row_number() OVER (ORDER BY t.grp_size DESC, t.doc_id, t.pos)
         |   AS rk
         | FROM t JOIN documents d ON d.doc_id = t.doc_id ORDER BY rk"""
        .stripMargin.replace("\n", " "),
    "corpus_signal_corr" -> {
      val allSw = TextAnalysis.stopwords.values.flatten.toSeq.distinct
        .map(s => s"'$s'").mkString(", ")
      s"""WITH pd AS (SELECT doc_id,
         |  round((least(length(text)::DOUBLE / 500.0, 1.0)
         |   + len(list_distinct(ws))::DOUBLE / len(ws)
         |   + least(len(list_filter(ws, x -> list_contains([$allSw], x)))::DOUBLE
         |       / len(ws) * 4, 1.0)) / 3.0, 6) AS q,
         |  round(ln(greatest(n_chars, 1)::DOUBLE), 6) AS len_ln
         |  FROM (SELECT doc_id, text, n_chars,
         |   string_split_regex(lower(text), '\\s+') AS ws
         |   FROM documents) AS t),
         | wd AS (SELECT doc_id,
         |  unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents),
         | c AS (SELECT w, count(*) AS c FROM wd GROUP BY w),
         | tt AS (SELECT sum(c) AS n_total, count(*) AS vocab FROM c),
         | lm AS (SELECT w, ln((c + 1)::DOUBLE / (n_total + vocab)::DOUBLE)
         |   AS logp FROM c, tt),
         | x AS (SELECT doc_id, round(-avg(logp), 6) AS x
         |  FROM wd JOIN lm USING (w) GROUP BY doc_id)
         | SELECT count(*) AS n_docs,
         |  round(corr(q, x), 6) AS r_quality_xent,
         |  round(corr(q, len_ln), 6) AS r_quality_len,
         |  round(corr(x, len_ln), 6) AS r_xent_len
         | FROM pd JOIN x USING (doc_id)""".stripMargin.replace("\n", " ")
    },
    "sim_retrieval_eval" ->
      s"""WITH top AS (SELECT q_id, c_id, rk FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${cosSql("q", "c")} DESC, c.vec_id ASC) AS rk
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10) z WHERE rk <= 10),
         | wl AS (SELECT t.q_id, ql.label AS q_lab,
         |  CAST(cl.label = ql.label AS INT) AS rel, t.rk
         |  FROM top t JOIN embeddings ql ON ql.vec_id = t.q_id
         |  JOIN embeddings cl ON cl.vec_id = t.c_id),
         | lc AS (SELECT label, count(*) AS n_lab FROM embeddings
         |  GROUP BY label),
         | pq AS (SELECT w.q_id, w.q_lab,
         |  CAST(sum(w.rel) AS BIGINT) AS rel_found,
         |  min(CASE WHEN w.rel = 1 THEN w.rk END) AS first_rel
         |  FROM wl w GROUP BY 1, 2),
         | pq2 AS (SELECT pq.*, lc.n_lab - 1 AS total_rel FROM pq
         |  JOIN lc ON lc.label = pq.q_lab)
         | SELECT count(*) AS n_queries,
         |  round(avg(round(rel_found::DOUBLE / 10, 6)), 6) AS p_at_k,
         |  round(avg(round(coalesce(1.0 / first_rel, 0.0), 6)), 6) AS mrr,
         |  round(avg(round(CASE WHEN total_rel > 0
         |   THEN least(rel_found, total_rel)::DOUBLE / total_rel END, 6)),
         |   6) AS recall_at_k
         | FROM pq2""".stripMargin.replace("\n", " "),
    "dedup_lsh_design" -> {
      // t^r / (1-t^r)^b as explicit multiplication chains (no pow —
      // libm rounding is not cross-engine stable); same chains the
      // Spark side folds
      val branches = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
        .map { case (b, r) =>
          val tr = List.fill(r)("t").mkString(" * ")
          val q = s"(1.0 - ($tr))"
          val qb = List.fill(b)(q).mkString(" * ")
          s"SELECT $b AS bands, $r AS rows_per_band, t, 1.0 - ($qb) AS p FROM grid"
        }.mkString(" UNION ALL ")
      s"""WITH grid AS (SELECT (i + 0.5) / 100.0 AS t FROM range(100) g(i)),
         | c AS ($branches),
         | a AS (SELECT bands, rows_per_band,
         |  round(sum(CASE WHEN t < 0.5 THEN p * 0.01 ELSE 0.0 END), 6)
         |   AS fp_area,
         |  round(sum(CASE WHEN t >= 0.5 THEN (1.0 - p) * 0.01
         |   ELSE 0.0 END), 6) AS fn_area,
         |  round(min(CASE WHEN round(p, 6) >= 0.5 THEN t END), 6) AS t_half
         |  FROM c GROUP BY 1, 2)
         | SELECT bands, rows_per_band, fp_area, fn_area,
         |  round(fp_area + fn_area, 6) AS cost, t_half,
         |  row_number() OVER (ORDER BY round(fp_area + fn_area, 6) ASC,
         |   bands ASC) AS rk
         | FROM a ORDER BY rk""".stripMargin.replace("\n", " ")
    },
    "sketch_dd" -> {
      // the exact γ / ln γ doubles the engine evaluates with
      val (g, lnG) = graft.pipeline.Sketches.ddConstants()
      s"""WITH pos AS (SELECT event_type, value FROM events WHERE value > 0),
         | b AS (SELECT event_type,
         |  CAST(ceil(round(ln(value) / $lnG, 9)) AS BIGINT) AS i FROM pos),
         | cnt AS (SELECT event_type, i, count(*) AS c FROM b GROUP BY 1, 2),
         | mx AS (SELECT event_type, max(i) AS max_i, count(*) AS nb_raw
         |  FROM cnt GROUP BY 1),
         | col2 AS (SELECT cnt.event_type,
         |   greatest(cnt.i, mx.max_i - 255) AS i, sum(cnt.c) AS c
         |  FROM cnt JOIN mx USING (event_type) GROUP BY 1, 2),
         | st AS (SELECT event_type, count(*) AS n_buckets, sum(c) AS n
         |  FROM col2 GROUP BY 1),
         | z AS (SELECT event_type,
         |   sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS n_zero
         |  FROM events GROUP BY 1),
         | cum AS (SELECT event_type, i, c, sum(c) OVER (
         |   PARTITION BY event_type ORDER BY i
         |   ROWS UNBOUNDED PRECEDING) AS cum FROM col2),
         | ps AS (SELECT p FROM (VALUES (0.5::DOUBLE), (0.9::DOUBLE),
         |  (0.95::DOUBLE), (0.99::DOUBLE)) AS t(p)),
         | tgt AS (SELECT st.event_type, ps.p, st.n, st.n_buckets,
         |   mx.nb_raw - st.n_buckets AS n_collapsed, z.n_zero,
         |   CAST(floor(ps.p * (st.n - 1)) AS BIGINT) AS r
         |  FROM st JOIN mx USING (event_type) JOIN z USING (event_type)
         |   CROSS JOIN ps),
         | pick AS (SELECT tgt.*, cum.i FROM tgt JOIN cum
         |  ON cum.event_type = tgt.event_type AND cum.cum > tgt.r
         |   AND cum.cum - cum.c <= tgt.r),
         | rkv AS (SELECT event_type, value, row_number() OVER (
         |   PARTITION BY event_type ORDER BY value) AS rk FROM pos)
         | SELECT pick.event_type, pick.p, CAST(pick.n AS BIGINT) AS n,
         |  CAST(pick.n_buckets AS BIGINT) AS n_buckets,
         |  CAST(pick.n_collapsed AS BIGINT) AS n_collapsed,
         |  CAST(pick.n_zero AS BIGINT) AS n_zero,
         |  round(2 * power($g, pick.i) / ($g + 1), 6) AS est_q,
         |  round(rkv.value, 6) AS exact_v,
         |  round(abs(2 * power($g, pick.i) / ($g + 1) - rkv.value)
         |   / rkv.value, 6) AS rel_err
         | FROM pick JOIN rkv ON rkv.event_type = pick.event_type
         |  AND rkv.rk = pick.r + 1
         | ORDER BY pick.event_type, pick.p""".stripMargin.replace("\n", " ")
    },
    "corpus_softdedup" ->
      s"""WITH RECURSIVE sig AS ($SIG), banded AS ($BANDED),
         | capped AS (SELECT doc_id, band, bucket FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded) AS z
         |  WHERE bsz <= $MAX_BUCKET),
         | p AS ($PAIRS), v AS ($VERIFIED),
         | edges AS (SELECT doc_a AS src, doc_b AS dst FROM v
         |  UNION SELECT doc_b AS src, doc_a AS dst FROM v),
         | reach(node, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach AS r JOIN edges AS e ON e.src = r.node),
         | cl AS (SELECT node AS doc_id, min(root) AS cluster_id
         |  FROM reach GROUP BY node),
         | cs AS (SELECT cluster_id, count(*) AS csz FROM cl GROUP BY cluster_id),
         | w AS (SELECT cl.doc_id, cs.csz,
         |   CAST(1000000 // cs.csz AS BIGINT) AS ppm
         |  FROM cl JOIN cs USING (cluster_id)),
         | tk AS (SELECT doc_id, CAST(list_sum(list_transform(
         |   string_split_regex(lower(text), '\\s+'),
         |   t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS tok
         |  FROM documents)
         | SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN w.csz > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_discounted,
         |  CAST(sum(tk.tok) AS BIGINT) AS tokens_raw,
         |  round(sum(tk.tok * w.ppm)::DOUBLE / 1e6, 6) AS tokens_eff,
         |  round(sum(tk.tok * w.ppm)::DOUBLE / (sum(tk.tok)::DOUBLE * 1e6), 6)
         |   AS discount,
         |  round(sum(w.ppm)::DOUBLE / (count(*)::DOUBLE * 1e6), 6)
         |   AS mean_weight
         | FROM documents AS d JOIN w ON w.doc_id = d.doc_id
         |  JOIN tk ON tk.doc_id = d.doc_id
         | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),
    "sketch_quantile" ->
      """WITH st AS (SELECT min(value) AS lo, max(value) AS hi,
        |  count(*) AS n,
        |  quantile_cont(value, [0.5, 0.9, 0.95, 0.99]) AS ex FROM events),
        | bs AS (SELECT CASE WHEN hi = lo THEN 0 ELSE
        |  least(floor((value - lo) / ((hi - lo) / 256.0)), 255)::INT END
        |  AS bin FROM events, st),
        | hist AS (SELECT bin, count(*) AS c FROM bs GROUP BY bin),
        | cumt AS (SELECT bin, c, sum(c) OVER (ORDER BY bin
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM hist),
        | ps AS (SELECT i, p FROM (VALUES (1, 0.5::DOUBLE),
        |  (2, 0.9::DOUBLE), (3, 0.95::DOUBLE), (4, 0.99::DOUBLE))
        |  AS t(i, p)),
        | tgt AS (SELECT p, p * (n - 1) + 1 AS r, lo, hi, ex[i] AS exact_q
        |  FROM ps, st),
        | pick AS (SELECT tgt.p, tgt.r, tgt.lo, tgt.hi, tgt.exact_q,
        |  c.bin, c.c, c.cum FROM tgt JOIN cumt c
        |  ON c.cum >= tgt.r AND (c.cum - c.c) < tgt.r),
        | est AS (SELECT p, CASE WHEN hi = lo THEN lo ELSE
        |  lo + (hi - lo) / 256.0 * (bin + (r - (cum - c)) / c) END AS est,
        |  exact_q FROM pick)
        | SELECT p, round(est, 6) AS est_q, round(exact_q, 6) AS exact_v,
        |  round(est - exact_q, 6) AS err FROM est ORDER BY p"""
        .stripMargin.replace("\n", " "),
    "sim_rrf" ->
      s"""WITH wd AS (SELECT doc_id,
         |  string_split_regex(lower(text), '\\s+') AS ws FROM documents),
         | tf AS (SELECT doc_id, w, count(*) AS tf FROM
         |  (SELECT doc_id, unnest(ws) AS w FROM wd) z GROUP BY doc_id, w),
         | dl AS (SELECT doc_id, len(ws)::BIGINT AS dl FROM wd),
         | st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         | dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         | qt AS (SELECT doc_id AS q_id, w FROM tf WHERE doc_id < 10),
         | terms AS (SELECT qt.q_id, tf.doc_id AS c_id,
         |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |   * (tf.tf * 2.2)
         |   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS term
         |  FROM qt JOIN tf ON tf.w = qt.w AND tf.doc_id <> qt.q_id
         |  JOIN dfq ON dfq.w = qt.w
         |  JOIN dl ON dl.doc_id = tf.doc_id
         |  CROSS JOIN st),
         | sc AS (SELECT q_id, c_id, round(sum(term), 6) AS bm25_v
         |  FROM terms GROUP BY q_id, c_id),
         | ss AS (SELECT q_id, c_id, s_rk FROM (SELECT q_id, c_id,
         |  row_number() OVER (PARTITION BY q_id
         |   ORDER BY bm25_v DESC, c_id ASC) AS s_rk FROM sc) z
         |  WHERE s_rk <= 20),
         | dn AS (SELECT q_id, c_id, d_rk FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${cosSql("q", "c")} DESC, c.vec_id ASC) AS d_rk
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10) z WHERE d_rk <= 20),
         | fu AS (SELECT coalesce(ss.q_id, dn.q_id) AS q_id,
         |  coalesce(ss.c_id, dn.c_id) AS c_id,
         |  coalesce(ss.s_rk, 0) AS s_rk, coalesce(dn.d_rk, 0) AS d_rk,
         |  coalesce(1.0 / (60 + ss.s_rk), 0.0)
         |   + coalesce(1.0 / (60 + dn.d_rk), 0.0) AS rrf
         |  FROM ss FULL JOIN dn ON dn.q_id = ss.q_id AND dn.c_id = ss.c_id)
         | SELECT q_id, c_id, s_rk, d_rk, round(rrf, 6) AS rrf_v, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |   ORDER BY rrf DESC, c_id ASC) AS rk FROM fu) z
         | WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin.replace("\n", " "),
    "corpus_doremi" ->
      """WITH wd AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        | c AS (SELECT w, count(*) AS c FROM wd GROUP BY w),
        | t AS (SELECT sum(c) AS n_total, count(*) AS vocab FROM c),
        | ulm AS (SELECT w, ln((c + 1)::DOUBLE / (n_total + vocab)::DOUBLE)
        |   AS logp FROM c, t),
        | uni AS (SELECT doc_id, count(*) AS n_words,
        |  round(-avg(logp), 6) AS xu
        |  FROM wd JOIN ulm USING (w) GROUP BY doc_id),
        | wsd AS (SELECT doc_id,
        |  string_split_regex(lower(text), '\s+') AS ws FROM documents),
        | bgr AS (SELECT doc_id,
        |  unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS bg
        |  FROM wsd WHERE len(ws) >= 2),
        | c12 AS (SELECT bg, count(*) AS c12 FROM bgr GROUP BY bg),
        | c1 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
        |  FROM c12 GROUP BY 1),
        | blm AS (SELECT bg,
        |  ln((c12 + 1)::DOUBLE / (c1 + vocab)::DOUBLE) AS logp
        |  FROM c12 JOIN c1 ON split_part(c12.bg, ' ', 1) = c1.w1
        |  CROSS JOIN t),
        | bi AS (SELECT doc_id, round(-avg(logp), 6) AS xb
        |  FROM bgr JOIN blm USING (bg) GROUP BY doc_id),
        | ag AS (SELECT d.source, count(*) AS n_docs,
        |  sum(uni.n_words) AS tokens, avg(uni.xu - bi.xb) AS mean_excess
        |  FROM documents AS d JOIN uni ON uni.doc_id = d.doc_id
        |  JOIN bi ON bi.doc_id = d.doc_id GROUP BY d.source),
        | tt AS (SELECT sum(tokens) AS t FROM ag),
        | z AS (SELECT source, n_docs, tokens, mean_excess,
        |  tokens::DOUBLE / t * exp(mean_excess) AS z FROM ag, tt),
        | zn AS (SELECT sum(z) AS sz, count(*) AS k FROM z)
        | SELECT source, n_docs, CAST(tokens AS BIGINT) AS tokens,
        |  round(mean_excess, 6) AS mean_excess,
        |  round(z / sz, 6) AS doremi_weight,
        |  round(z / sz * 0.8 + 0.2 / k, 6) AS smoothed_weight
        | FROM z, zn ORDER BY source""".stripMargin.replace("\n", " "),
    // CCNet terciles: the text_bigram ppl CTEs, then a 0-based
    // (ppl, doc_id) rank within language; tercile = (3*rank) // n —
    // the same integer bucketing the engine computes (for k=3 this
    // equals ntile(3)'s remainder placement)
    "corpus_ccnet" ->
      s"""WITH $CCNET_CTES
         | SELECT doc_id, lang, ppl,
         |  CASE (rk * 3) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
         |   ELSE 'tail' END AS ccnet_bucket
         | FROM r ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "sim_pca_power" ->
      s"""WITH $PCA_CTES,
         | lam AS (SELECT sum(c.c * a.vj * b.vj) AS lam FROM c
         |  JOIN v$PCA_ROUNDS AS a ON a.j = c.i
         |  JOIN v$PCA_ROUNDS AS b ON b.j = c.j),
         | tr AS (SELECT sum(c) AS tr FROM c WHERE i = j)
         | SELECT (v.j - 1)::BIGINT AS pos, v.vj AS loading,
         |  round(lam.lam, 6) AS eigenvalue,
         |  round(lam.lam / tr.tr, 6) AS var_explained
         | FROM v$PCA_ROUNDS AS v, lam, tr ORDER BY pos"""
        .stripMargin.replace("\n", " "),
    "sim_pca_gap" ->
      s"""WITH $PCA_CTES, $PCA2_CTES,
         | lam2 AS (SELECT round(sum(c2.c * a.vj * b.vj), 6) AS l2
         |  FROM c2 JOIN u$PCA_ROUNDS AS a ON a.j = c2.i
         |  JOIN u$PCA_ROUNDS AS b ON b.j = c2.j),
         | orth AS (SELECT round(abs(sum(a.vj * b.vj)), 6) AS orthogonality
         |  FROM v$PCA_ROUNDS AS a JOIN u$PCA_ROUNDS AS b ON b.j = a.j)
         | SELECT (u.j - 1)::BIGINT AS pos, u.vj AS loading2,
         |  lam1.l1 AS eigenvalue1, lam2.l2 AS eigenvalue2,
         |  round(lam2.l2 / lam1.l1, 6) AS gap_ratio, orth.orthogonality
         | FROM u$PCA_ROUNDS AS u, lam1, lam2, orth
         | ORDER BY pos""".stripMargin.replace("\n", " "),
    "sim_abtt" ->
      s"""WITH $PCA_CTES,
         | muv AS (SELECT list(m ORDER BY k) AS mu FROM mu),
         | vv AS (SELECT list(vj ORDER BY j) AS v FROM v$PCA_ROUNDS),
         | per AS (SELECT e.vec_id,
         |  [e.emb[i] - muv.mu[i] for i in range(1, 65)] AS xc
         |  FROM e, muv),
         | p2 AS (SELECT vec_id, list_dot_product(xc, vv.v) AS proj,
         |  list_dot_product(xc, xc) AS d2 FROM per, vv)
         | SELECT vec_id, round(proj, 6) AS proj_v,
         |  round(sqrt(d2), 6) AS norm_centered,
         |  round(sqrt(greatest(d2 - proj * proj, 0.0)), 6) AS norm_abtt
         | FROM p2 ORDER BY vec_id""".stripMargin.replace("\n", " "),
    "corpus_psi" -> {
      val allSw = TextAnalysis.stopwords.values.flatten.toSeq.distinct
        .map(s => s"'$s'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, source,
         |  string_split_regex(lower(text), '\\s+') AS ws, text
         |  FROM documents),
         | bd AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
         |  FROM documents),
         | q AS (SELECT doc_id, source,
         |  round((least(length(text)::DOUBLE / 500.0, 1.0)
         |   + len(list_distinct(ws))::DOUBLE / len(ws)
         |   + least(len(list_filter(ws, x -> list_contains([$allSw], x)))::DOUBLE
         |       / len(ws) * 4, 1.0)) / 3.0, 6) AS qs FROM base),
         | s AS (SELECT source,
         |  least(((doc_id - lo) * 2) // (hi - lo + 1), 1) AS half,
         |  least(CAST(floor(qs * 10) AS BIGINT), 9) AS bucket FROM q, bd),
         | c AS (SELECT source, bucket,
         |  CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_ref,
         |  CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_cur
         |  FROM s GROUP BY 1, 2),
         | grid AS (SELECT source, bucket FROM
         |  (SELECT DISTINCT source FROM documents)
         |  CROSS JOIN (SELECT unnest(range(0, 10)) AS bucket)),
         | g AS (SELECT grid.source, grid.bucket,
         |  coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
         |  FROM grid LEFT JOIN c USING (source, bucket)),
         | t AS (SELECT source, bucket, n_ref, n_cur,
         |  (n_ref + 1)::DOUBLE
         |    / (sum(n_ref) OVER (PARTITION BY source) + 10) AS p,
         |  (n_cur + 1)::DOUBLE
         |    / (sum(n_cur) OVER (PARTITION BY source) + 10) AS q
         |  FROM g)
         | SELECT source, bucket, n_ref, n_cur, round(p, 6) AS ref_share,
         |  round(q, 6) AS cur_share,
         |  round((p - q) * ln(p / q), 6) AS psi_term,
         |  round(sum((p - q) * ln(p / q)) OVER (PARTITION BY source), 6)
         |   AS psi
         | FROM t ORDER BY source, bucket""".stripMargin.replace("\n", " ")
    },
    // UniMax: ascending-size water-filling with integer comparisons;
    // capped set kept a contiguous prefix by the running min
    "corpus_unimax" ->
      """WITH pl AS (SELECT lang,
        |  sum(len(string_split_regex(lower(text), '\s+')))::BIGINT AS tokens
        |  FROM documents GROUP BY lang),
        | r AS (SELECT lang, tokens,
        |  row_number() OVER (ORDER BY tokens, lang) AS rank,
        |  count(*) OVER () AS n,
        |  coalesce(sum(tokens) OVER (ORDER BY tokens, lang
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
        |  FROM pl),
        | c AS (SELECT *, CAST(min(CASE WHEN tokens * 2 * (n - rank + 1)
        |    <= 40000 - 2 * pfx THEN 1 ELSE 0 END)
        |   OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING) AS INT) AS capped
        |  FROM r),
        | t AS (SELECT *, sum(capped) OVER () AS t,
        |  sum(capped * tokens) OVER () AS st FROM c),
        | q AS (SELECT lang, tokens, rank, capped,
        |  CAST(CASE WHEN capped = 1 THEN tokens * 2
        |   ELSE (40000 - 2 * st) // greatest(n - t, 1) END AS BIGINT)
        |   AS quota_tokens FROM t)
        | SELECT lang, tokens, rank, capped, quota_tokens,
        |  round(quota_tokens::DOUBLE / tokens, 6) AS epochs,
        |  round(quota_tokens::DOUBLE / 40000, 6) AS budget_share
        | FROM q ORDER BY rank""".stripMargin.replace("\n", " "),
    "corpus_ccnet_stats" ->
      s"""WITH $CCNET_CTES,
         | b AS (SELECT lang, ppl,
         |  CASE (rk * 3) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
         |   ELSE 'tail' END AS ccnet_bucket FROM r)
         | SELECT lang, ccnet_bucket, count(*) AS n_docs,
         |  round(min(ppl), 6) AS min_ppl, round(avg(ppl), 6) AS mean_ppl,
         |  round(max(ppl), 6) AS max_ppl
         | FROM b GROUP BY lang, ccnet_bucket
         | ORDER BY lang, ccnet_bucket""".stripMargin.replace("\n", " "),
    "text_bm25" -> {
      val tfs = BM25_TERMS.map(t =>
        s"len(list_filter(ws, x -> x = '$t'))::BIGINT AS tf_$t").mkString(", ")
      val dfs = BM25_TERMS.map(t =>
        s"sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(", ")
      val score = BM25_TERMS.map(t =>
        s"""ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5))
           | * (tf_$t * 2.2) / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl))"""
          .stripMargin.replace("\n", " ")).mkString(" + ")
      s"""WITH base AS (SELECT doc_id, len(ws)::BIGINT AS dl, $tfs
         |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         |        FROM documents) AS t),
         | stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl, $dfs FROM base)
         | SELECT doc_id, dl, ${BM25_TERMS.map(t => s"tf_$t").mkString(", ")},
         |  round($score, 6) AS bm25_v
         | FROM base, stats
         | WHERE ${BM25_TERMS.map(t => s"tf_$t").mkString(" + ")} > 0
         | ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    "text_c4" ->
      """SELECT doc_id, n_words, n_sentences,
        | round(n_words::DOUBLE / n_sentences, 6) AS words_per_sentence,
        | has_brace, has_bad_phrase,
        | CAST(n_words >= 50 AND has_brace = 0 AND has_bad_phrase = 0 AS INT)
        |   AS c4_pass
        | FROM (SELECT doc_id,
        |  len(string_split_regex(lower(text), '\s+'))::BIGINT AS n_words,
        |  len(list_filter(string_split_regex(text, '[.!?]'),
        |    s -> length(trim(s)) > 0))::BIGINT AS n_sentences,
        |  CAST(contains(text, '{') AS INT) AS has_brace,
        |  CAST(contains(lower(text), 'lorem ipsum')
        |    OR contains(lower(text), 'javascript')
        |    OR contains(lower(text), 'cookie')
        |    OR contains(lower(text), 'privacy policy')
        |    OR contains(lower(text), 'terms of use') AS INT) AS has_bad_phrase
        | FROM documents) AS t ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "corpus_dsir" ->
      """WITH bw AS (SELECT doc_id, doc_id < 25 AS tgt,
        |  CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 64 AS b
        |  FROM (SELECT doc_id,
        |   unnest(string_split_regex(lower(text), '\s+')) AS w
        |   FROM documents) AS u),
        | bc AS (SELECT b, count(*) AS cs,
        |  sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct FROM bw GROUP BY b),
        | tot AS (SELECT sum(cs) AS ns, sum(ct) AS nt FROM bc),
        | lr AS (SELECT b,
        |  ln((ct + 1)::DOUBLE / (nt + 64)::DOUBLE)
        |   - ln((cs + 1)::DOUBLE / (ns + 64)::DOUBLE) AS lr FROM bc, tot)
        | SELECT doc_id, count(*) AS n_words,
        |  round(sum(lr), 6) AS dsir_logweight,
        |  round(avg(lr), 6) AS dsir_mean
        | FROM bw JOIN lr USING (b) GROUP BY doc_id
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "corpus_unigram_train" -> unigramOracleSql()._1,
    "corpus_unigram_encode" -> unigramOracleSql()._2,
    // corpus_fertility registered below next to the BPE oracles
    // all 8 greedy merge rounds replayed: per round, the pair count
    // over the current vocab, the lexicographic-tie-broken argmax,
    // and the delimiter-owning replace() rewrite — bit-identical to
    // the engine because both replaces scan left-to-right
    // non-overlapping
    // all 8 likelihood-scored merge rounds replayed: per round the
    // symbol counts, the pair counts, the score argmax with
    // lexicographic tie-break, and the same delimiter-owning rewrite
    "corpus_wordpiece_train" -> {
      val R = 8
      val tops = (1 to R).map(i =>
        s"SELECT CAST($i AS BIGINT) AS round, a AS sym_a, b AS sym_b, " +
          s"a || b AS merged, CAST(pfreq AS BIGINT) AS pair_freq, " +
          s"round(score, 9) AS score_v FROM wt$i WHERE pfreq > 0")
        .mkString(" UNION ALL ")
      s"WITH ${wordpieceStagesSql(R)} SELECT * FROM ($tops) AS m ORDER BY round"
    },
    "corpus_bpe_train" -> {
      val R = 8
      val tops = (1 to R).map(i =>
        s"SELECT CAST($i AS BIGINT) AS round, a AS sym_a, b AS sym_b, " +
          s"a || b AS merged, CAST(pfreq AS BIGINT) AS pair_freq FROM t$i " +
          "WHERE pfreq > 0")
        .mkString(" UNION ALL ")
      s"WITH ${bpeStagesSql(R)} SELECT * FROM ($tops) AS m ORDER BY round"
    },
    // both trained tokenizers replayed end-to-end, reduced to the
    // per-language fertility card: BPE's merge-replace chain and the
    // unigram prune loop's per-word piece costs, joined on the doc
    "corpus_fertility" -> {
      val R = 8
      val repr0 =
        """' ' || array_to_string(
          | [substring(w, i, 1) for i in range(1, length(w) + 1)], '  ')
          | || ' '""".stripMargin.replace("\n", " ")
      val reprN = (1 to R).foldLeft(s"($repr0)") { (c, i) =>
        s"replace($c, ' ' || t$i.a || '  ' || t$i.b || ' ', ' ' || t$i.a || t$i.b || ' ')"
      }
      val tJoin = (1 to R).map(i => s"t$i").mkString(", ")
      s"""WITH ${bpeStagesSql(R)},
         | wtok AS (SELECT doc_id,
         |   unnest(string_split_regex(lower(text), '\\s+')) AS w
         |  FROM documents),
         | benc AS (SELECT doc_id, count(*) AS n_words,
         |   CAST(sum(k) AS BIGINT) AS bpe_tokens FROM
         |  (SELECT doc_id, len(string_split(trim($reprN), '  ')) AS k
         |   FROM wtok, $tJoin WHERE length(w) > 0) AS e GROUP BY doc_id),
         | ${unigramOracleSql()._3},
         | dw AS (SELECT doc_id,
         |  unnest(string_split_regex(lower(text), '\\s+')) AS word
         |  FROM documents),
         | uenc AS (SELECT dw.doc_id,
         |  CAST(sum(pw.word_pieces) AS BIGINT) AS unigram_tokens
         |  FROM dw JOIN pw ON pw.word = dw.word GROUP BY dw.doc_id)
         | SELECT d.lang, count(*) AS n_docs,
         |  CAST(sum(benc.n_words) AS BIGINT) AS words,
         |  CAST(sum(benc.bpe_tokens) AS BIGINT) AS bpe_tokens,
         |  CAST(sum(uenc.unigram_tokens) AS BIGINT) AS unigram_tokens,
         |  round(sum(benc.bpe_tokens)::DOUBLE / sum(benc.n_words), 6)
         |   AS bpe_fertility,
         |  round(sum(uenc.unigram_tokens)::DOUBLE / sum(benc.n_words), 6)
         |   AS unigram_fertility
         | FROM documents AS d
         | JOIN benc ON benc.doc_id = d.doc_id
         | JOIN uenc ON uenc.doc_id = d.doc_id
         | GROUP BY d.lang ORDER BY d.lang""".stripMargin.replace("\n", " ")
    },
    // training replayed (same stages), then the merge table applied
    // to the word stream as the same ordered replace chain
    "corpus_bpe_encode" -> {
      val R = 8
      val repr0 =
        """' ' || array_to_string(
          | [substring(w, i, 1) for i in range(1, length(w) + 1)], '  ')
          | || ' '""".stripMargin.replace("\n", " ")
      val reprN = (1 to R).foldLeft(s"($repr0)") { (c, i) =>
        s"replace($c, ' ' || t$i.a || '  ' || t$i.b || ' ', ' ' || t$i.a || t$i.b || ' ')"
      }
      val tJoin = (1 to R).map(i => s"t$i").mkString(", ")
      s"""WITH ${bpeStagesSql(R)},
         | wtok AS (SELECT doc_id,
         |   unnest(string_split_regex(lower(text), '\\s+')) AS w
         |  FROM documents),
         | enc AS (SELECT doc_id,
         |   len(string_split(trim($reprN), '  ')) AS k
         |  FROM wtok, $tJoin WHERE length(w) > 0)
         | SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(k) AS BIGINT) AS bpe_tokens
         | FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    "corpus_bpe" ->
      """WITH wf AS (SELECT word, count(*) AS wc FROM
        |  (SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
        |   FROM documents) AS u GROUP BY word),
        | p AS (SELECT wc, unnest([substr(word, i, 2)
        |   for i in range(1, length(word))]) AS pair
        |  FROM wf WHERE length(word) >= 2)
        | SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count,
        |  row_number() OVER (ORDER BY sum(wc) DESC, pair ASC) AS rank
        | FROM p GROUP BY pair
        | ORDER BY pair_count DESC, pair ASC LIMIT 50""".stripMargin.replace("\n", " "),
    "text_entropy" ->
      """SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        | count(*) AS distinct_words,
        | round(ln(CAST(sum(c) AS DOUBLE))
        |  - sum(c * ln(c::DOUBLE)) / CAST(sum(c) AS DOUBLE), 6) AS entropy
        | FROM (SELECT doc_id, w, count(*) AS c FROM (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents) AS u GROUP BY doc_id, w) AS g
        | GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "text_langid" -> {
      val langs = Seq("en", "de", "fr", "es")
      val lists = langs.map { l =>
        val sw = TextAnalysis.stopwords(l).map(s => s"'$s'").mkString(", ")
        s"len(list_filter(ws, x -> list_contains([$sw], x)))::DOUBLE / len(ws) AS score_$l"
      }.mkString(", ")
      s"""SELECT doc_id, lang,
         | CASE WHEN greatest(score_en, score_de, score_fr, score_es) <= 0 THEN 'und'
         |  WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
         |  WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
         |  WHEN score_fr >= score_es THEN 'fr' ELSE 'es' END AS pred_lang,
         | round(greatest(score_en, score_de, score_fr, score_es), 6) AS lang_score
         | FROM (SELECT doc_id, lang, $lists
         |  FROM (SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS ws
         |        FROM documents) AS t) AS sc ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    "corpus_source_report" -> {
      val allSw = TextAnalysis.stopwords.values.flatten.toSeq.distinct
        .map(s => s"'$s'").mkString(", ")
      val langs = Seq("en", "de", "fr", "es")
      val lists = langs.map { l =>
        val sw = TextAnalysis.stopwords(l).map(s => s"'$s'").mkString(", ")
        s"len(list_filter(ws, x -> list_contains([$sw], x)))::DOUBLE / len(ws) AS score_$l"
      }.mkString(", ")
      s"""WITH base AS (SELECT doc_id, source, text,
         |  string_split_regex(lower(text), '\\s+') AS ws FROM documents),
         | q AS (SELECT doc_id, round((least(length(text)::DOUBLE / 500.0, 1.0)
         |   + len(list_distinct(ws))::DOUBLE / len(ws)
         |   + least(len(list_filter(ws, x -> list_contains([$allSw], x)))::DOUBLE
         |       / len(ws) * 4, 1.0)) / 3.0, 6) AS quality_score FROM base),
         | e AS (SELECT doc_id, row_number() OVER (PARTITION BY md5(text)
         |   ORDER BY doc_id) AS dup_rank FROM documents),
         | sc AS (SELECT doc_id, $lists FROM base),
         | l AS (SELECT doc_id,
         |  CASE WHEN greatest(score_en, score_de, score_fr, score_es) <= 0 THEN 'und'
         |   WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
         |   WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
         |   WHEN score_fr >= score_es THEN 'fr' ELSE 'es' END AS pred_lang FROM sc)
         | SELECT base.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN e.dup_rank > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
         |  round(avg(q.quality_score), 6) AS mean_quality,
         |  CAST(sum(CASE WHEN l.pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en_docs
         | FROM base JOIN q USING (doc_id) JOIN e USING (doc_id) JOIN l USING (doc_id)
         | GROUP BY base.source ORDER BY base.source""".stripMargin.replace("\n", " ")
    },
    "sim_knn_label" ->
      s"""SELECT q_id, label AS pred_label, votes FROM (
         | SELECT q_id, label, votes, row_number() OVER (PARTITION BY q_id
         |   ORDER BY votes DESC, label ASC) AS vrk FROM (
         |  SELECT nn.q_id, lbl.label, count(*) AS votes FROM (
         |   SELECT q_id, c_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |     row_number() OVER (PARTITION BY q.vec_id
         |       ORDER BY ${cosSql("q", "c")} DESC, c.vec_id ASC) AS rk
         |    FROM embeddings AS q JOIN embeddings AS c ON q.vec_id <> c.vec_id
         |    WHERE q.vec_id < 10) AS t WHERE rk <= 5) AS nn
         |  JOIN embeddings AS lbl ON lbl.vec_id = nn.c_id
         |  GROUP BY nn.q_id, lbl.label) AS v) AS w
         | WHERE vrk = 1 ORDER BY q_id""".stripMargin.replace("\n", " "),
    "corpus_chunks" ->
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(lower(text), '\s+') AS toks FROM documents),
        | n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        | s AS (SELECT doc_id, toks, n,
        |  unnest(range(0, greatest(CAST(ceil((n - 64) / 48.0) AS BIGINT) * 48, 0) + 1, 48)) AS start
        |  FROM n)
        | SELECT doc_id, start // 48 AS chunk_idx, start AS start_tok,
        |  least(64, n - start) AS n_tok,
        |  md5(array_to_string(toks[start + 1 : start + 64], ' ')) AS chunk_md5
        | FROM s ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " "),
    "sim_label_balance" ->
      """WITH c AS (SELECT label, count(*) AS n FROM embeddings
        |  GROUP BY label),
        | t AS (SELECT sum(n) AS tot, count(*) AS k FROM c)
        | SELECT label, n, round(n / tot, 6) AS share,
        |  round(n * k / tot, 6) AS vs_uniform
        | FROM c, t ORDER BY label""".stripMargin.replace("\n", " "),
    "sim_norm_outliers" ->
      """WITH n AS (SELECT vec_id,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |    AS nv FROM embeddings),
        | st AS (SELECT avg(nv) AS m, stddev_pop(nv) AS s FROM n)
        | SELECT vec_id, round(nv, 6) AS norm,
        |  round((nv - m) / s, 6) AS z_score,
        |  CAST(abs(round((nv - m) / s, 6)) > 2.0 AS INT) AS is_outlier
        | FROM n, st ORDER BY vec_id""".stripMargin.replace("\n", " "),
    "corpus_boilerplate" ->
      s"""WITH by_sh AS (SELECT shingle, count(*) AS df,
         |  min(doc_id) AS example_doc FROM ($SH) AS sh GROUP BY shingle),
         | top AS (SELECT shingle, df, example_doc,
         |  CAST(row_number() OVER (ORDER BY df DESC, shingle ASC) AS BIGINT)
         |    AS rank
         |  FROM by_sh ORDER BY df DESC, shingle ASC LIMIT 50)
         | SELECT rank, shingle, df, example_doc FROM top
         | ORDER BY rank""".stripMargin.replace("\n", " "),
    "sim_embed_stats" ->
      """SELECT i AS dim,
        | round(avg(embedding[i]::DOUBLE), 6) AS mean_v,
        | round(stddev_pop(embedding[i]::DOUBLE), 6) AS std_v,
        | round(min(embedding[i]::DOUBLE), 6) AS min_v,
        | round(max(embedding[i]::DOUBLE), 6) AS max_v
        | FROM embeddings CROSS JOIN
        |  (SELECT unnest(generate_series(1, 64)) AS i) AS d
        | GROUP BY i ORDER BY dim""".stripMargin.replace("\n", " "),
    // the engine's ±1 projection matrix regenerated as literal
    // arrays — projected vectors in a CTE so the matrix is embedded
    // once, then the same topk-overlap shape as sim_dim_recall
    "sim_rp_recall" -> {
      val projList = pipeline.Similarity.rpWeights(64, 16, 0L).map(w =>
        s"list_dot_product(embedding::DOUBLE[], [${w.mkString(", ")}])")
        .mkString(", ")
      def cosP(a: String, b: String) =
        s"""(list_dot_product($a.p, $b.p) /
           | (sqrt(list_dot_product($a.p, $a.p)) *
           |  sqrt(list_dot_product($b.p, $b.p))))""".stripMargin.replace("\n", " ")
      s"""WITH pr AS (SELECT vec_id, [$projList] AS p FROM embeddings),
         | fullk AS (SELECT q_id, c_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${cosSql("q", "c")} DESC, c.vec_id ASC) AS rk
         |  FROM embeddings AS q JOIN embeddings AS c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10) AS t WHERE rk <= 5),
         | projk AS (SELECT q_id, c_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY ${cosP("q", "c")} DESC, c.vec_id ASC) AS rk
         |  FROM pr AS q JOIN pr AS c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10) AS t WHERE rk <= 5)
         | SELECT f.q_id, count(t.c_id) AS overlap,
         |  round(count(t.c_id) / 5.0, 6) AS recall
         | FROM fullk AS f LEFT JOIN projk AS t
         |  ON t.q_id = f.q_id AND t.c_id = f.c_id
         | GROUP BY f.q_id ORDER BY f.q_id""".stripMargin.replace("\n", " ")
    },
    "sim_dim_recall" -> {
      def cosSlice(a: String, b: String, d: Int) =
        s"""(list_dot_product($a.embedding[1:$d]::DOUBLE[], $b.embedding[1:$d]::DOUBLE[]) /
           | (sqrt(list_dot_product($a.embedding[1:$d]::DOUBLE[], $a.embedding[1:$d]::DOUBLE[])) *
           |  sqrt(list_dot_product($b.embedding[1:$d]::DOUBLE[], $b.embedding[1:$d]::DOUBLE[]))))""".stripMargin.replace("\n", " ")
      def topk(cos: String) =
        s"""SELECT q_id, c_id FROM (
           | SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |  row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY $cos DESC, c.vec_id ASC) AS rk
           | FROM embeddings AS q JOIN embeddings AS c ON q.vec_id <> c.vec_id
           | WHERE q.vec_id < 10) AS t WHERE rk <= 5""".stripMargin.replace("\n", " ")
      s"""WITH fullk AS (${topk(cosSql("q", "c"))}),
         | trunck AS (${topk(cosSlice("q", "c", 32))})
         | SELECT f.q_id, count(t.c_id) AS overlap,
         |  round(count(t.c_id) / 5.0, 6) AS recall
         | FROM fullk AS f LEFT JOIN trunck AS t
         |  ON t.q_id = f.q_id AND t.c_id = f.c_id
         | GROUP BY f.q_id ORDER BY f.q_id""".stripMargin.replace("\n", " ")
    },
    "sim_hard_neg" ->
      s"""SELECT q_id, c_id, neg_label, round(cos, 6) AS cos_v, rk FROM (
         | SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.label AS neg_label,
         |  ${cosSql("q", "c")} AS cos,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${cosSql("q", "c")} DESC, c.vec_id ASC) AS rk
         | FROM embeddings AS q JOIN embeddings AS c
         |  ON q.vec_id <> c.vec_id AND q.label <> c.label
         | WHERE q.vec_id < 10) AS r
         | WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin.replace("\n", " "),
    "text_quality" -> {
      val allSw = TextAnalysis.stopwords.values.flatten.toSeq.distinct
        .map(s => s"'$s'").mkString(", ")
      s"""SELECT doc_id, len(ws) AS n_words,
         | round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
         |   / length(text), 6) AS punct_ratio,
         | round(len(list_filter(ws, x -> list_contains([$allSw], x)))::DOUBLE / len(ws), 6)
         |   AS stopword_ratio,
         | round(len(list_distinct(ws))::DOUBLE / len(ws), 6) AS distinct_ratio,
         | round((least(length(text)::DOUBLE / 500.0, 1.0)
         |   + len(list_distinct(ws))::DOUBLE / len(ws)
         |   + least(len(list_filter(ws, x -> list_contains([$allSw], x)))::DOUBLE
         |       / len(ws) * 4, 1.0)) / 3.0, 6) AS quality_score
         | FROM (SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS ws
         |       FROM documents) AS t ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    "text_redact" -> {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
      val digitsRe = "[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+"
      s"""SELECT doc_id,
         | md5(regexp_replace(regexp_replace(text, '$emailRe', '<EMAIL>', 'g'),
         |   '$digitsRe', '<NUM>', 'g')) AS redacted_md5,
         | CAST(len(string_split_regex(text, '$emailRe')) - 1 AS BIGINT) AS email_hits,
         | CAST(len(string_split_regex(text, '$digitsRe')) - 1 AS BIGINT) AS digit_hits
         | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    "text_gopher" ->
      s"""SELECT doc_id, mean_word_len, dup_line_frac, symbol_ratio, bullet_frac,
        | CAST(mean_word_len >= 3 AND mean_word_len <= 10
        |  AND dup_line_frac <= 0.3 AND symbol_ratio <= 0.1 AS INT) AS gopher_pass
        | FROM ($GOPHER_INNER) AS q
        | ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "text_tokens" ->
      """SELECT doc_id, len(ws) AS ws_tokens,
        | CAST(list_sum(list_transform(ws,
        |   w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_tokens
        | FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
        |       FROM documents) AS t ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "text_fingerprint" ->
      """SELECT doc_id,
        | list_min(hs) AS fp_min, list_max(hs) AS fp_max, len(hs) AS fp_n
        | FROM (SELECT doc_id,
        |  [CAST('0x' || substr(md5(substr(text, i, 16)), 1, 8) AS BIGINT)
        |   for i in generate_series(1, greatest(length(text) - 15, 1), 8)] AS hs
        |  FROM documents) AS t ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "mm_meta" ->
      """SELECT doc_id AS media_id,
        | (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
        | 'codec_' || CAST(doc_id % 4 AS VARCHAR) AS meta_codec,
        | length(text)::BIGINT AS meta_bytes
        | FROM documents ORDER BY media_id""".stripMargin.replace("\n", " "),
    "mm_decode" ->
      """SELECT doc_id AS media_id, 'image' AS kind,
        | CAST(16 + doc_id % 64 AS INT) AS width,
        | CAST(16 + doc_id % 48 AS INT) AS height,
        | CAST(1 AS INT) AS n_frames,
        | CAST(54 + (((16 + doc_id % 64) * 3 + 3) // 4 * 4)
        |    * (16 + doc_id % 48) AS BIGINT) AS meta_bytes
        | FROM documents ORDER BY media_id""".stripMargin.replace("\n", " "),
    "mm_video" ->
      """SELECT doc_id AS media_id,
        | CAST(8 + doc_id % 16 AS INT) AS width,
        | CAST(8 + doc_id % 12 AS INT) AS height,
        | CAST(4 + doc_id % 28 AS INT) AS n_frames,
        | ([10, 20, 25, 50])[CAST(doc_id % 4 + 1 AS INT)] AS fps,
        | CAST((4 + doc_id % 28) * 1000
        |   // ([10, 20, 25, 50])[CAST(doc_id % 4 + 1 AS INT)] AS BIGINT)
        |   AS duration_ms,
        | CAST(100 + (4 + doc_id % 28) *
        |   (8 + (8 + doc_id % 16) * (8 + doc_id % 12) * 3) AS BIGINT) AS meta_bytes
        | FROM documents ORDER BY media_id""".stripMargin.replace("\n", " "),
    "mm_audio" ->
      """SELECT doc_id AS media_id,
        | CAST(1 + doc_id % 2 AS INT) AS n_channels,
        | ([8000, 16000, 22050, 44100])[CAST(doc_id % 4 + 1 AS INT)] AS sample_rate,
        | CAST(256 + doc_id % 1024 AS BIGINT) AS n_samples,
        | CAST((256 + doc_id % 1024) * 1000
        |   // ([8000, 16000, 22050, 44100])[CAST(doc_id % 4 + 1 AS INT)] AS BIGINT)
        |   AS duration_ms,
        | CAST(44 + (256 + doc_id % 1024) * (1 + doc_id % 2) * 2 AS BIGINT) AS meta_bytes
        | FROM documents ORDER BY media_id""".stripMargin.replace("\n", " "),
    "text_repetition" ->
      """WITH wd AS (SELECT doc_id,
        |  string_split_regex(lower(text), '\s+') AS ws FROM documents),
        | tot AS (SELECT doc_id, length(array_to_string(ws, '')) AS tot_chars
        |  FROM wd),
        | bi AS (SELECT doc_id,
        |  unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS g
        |  FROM wd WHERE len(ws) >= 2),
        | bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g),
        | top2 AS (SELECT doc_id, c * length(replace(g, ' ', '')) AS chars2
        |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY c DESC, g ASC) AS rn FROM bc) AS z WHERE rn = 1),
        | tri AS (SELECT doc_id,
        |  unnest([ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
        |    for i in range(1, len(ws) - 1)]) AS g
        |  FROM wd WHERE len(ws) >= 3),
        | tc AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g),
        | dup3 AS (SELECT doc_id, sum(c * length(replace(g, ' ', ''))) AS chars3
        |  FROM tc WHERE c >= 2 GROUP BY doc_id)
        | SELECT t.doc_id, CAST(t.tot_chars AS BIGINT) AS tot_chars,
        |  round(coalesce(chars2, 0)::DOUBLE / t.tot_chars, 6) AS top_bigram_frac,
        |  round(coalesce(chars3, 0)::DOUBLE / t.tot_chars, 6) AS dup_trigram_frac
        | FROM tot AS t LEFT JOIN top2 USING (doc_id)
        | LEFT JOIN dup3 USING (doc_id) ORDER BY doc_id"""
        .stripMargin.replace("\n", " "),
    "corpus_canonical" -> {
      val allSw = TextAnalysis.stopwords.values.flatten.toSeq.distinct
        .map(s => s"'$s'").mkString(", ")
      s"""WITH RECURSIVE sig AS ($SIG), banded AS ($BANDED),
         | capped AS (SELECT doc_id, band, bucket FROM (
         |  SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded) AS z
         |  WHERE bsz <= $MAX_BUCKET),
         | p AS ($PAIRS), v AS ($VERIFIED),
         | edges AS (SELECT doc_a AS src, doc_b AS dst FROM v
         |  UNION SELECT doc_b AS src, doc_a AS dst FROM v),
         | reach(node, root) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.root FROM reach AS r JOIN edges AS e ON e.src = r.node),
         | cl AS (SELECT node AS doc_id, min(root) AS cluster_id
         |  FROM reach GROUP BY node),
         | q AS (SELECT doc_id,
         |  round((least(length(text)::DOUBLE / 500.0, 1.0)
         |   + len(list_distinct(ws))::DOUBLE / len(ws)
         |   + least(len(list_filter(ws, x -> list_contains([$allSw], x)))::DOUBLE
         |       / len(ws) * 4, 1.0)) / 3.0, 6) AS quality_score
         |  FROM (SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS ws
         |        FROM documents) AS t),
         | r AS (SELECT cl.doc_id, cl.cluster_id, q.quality_score,
         |   row_number() OVER (PARTITION BY cl.cluster_id
         |     ORDER BY q.quality_score DESC, cl.doc_id ASC) AS rn
         |  FROM cl JOIN q USING (doc_id))
         | SELECT doc_id, cluster_id, quality_score,
         |  CAST(rn = 1 AS INT) AS keep_best
         | FROM r ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    "corpus_pack_fold" ->
      """WITH toks AS (SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8
        |    AS shard,
        |  CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        | fit AS (SELECT * FROM toks WHERE n_tokens <= 512),
        | ov AS (SELECT shard, count(*) AS n_oversize FROM toks
        |  WHERE n_tokens > 512 GROUP BY shard),
        | rk AS (SELECT shard, doc_id, n_tokens,
        |   CAST(row_number() OVER (PARTITION BY shard
        |     ORDER BY n_tokens DESC, doc_id ASC) AS BIGINT) AS r,
        |   count(*) OVER (PARTITION BY shard) AS n FROM fit),
        | b AS (SELECT l.shard, l.n_tokens,
        |   CASE WHEN l.r <> m.r AND l.n_tokens + m.n_tokens <= 512
        |    THEN least(l.r, m.r) ELSE l.r END AS bin
        |  FROM rk AS l JOIN rk AS m
        |   ON m.shard = l.shard AND m.r = l.n + 1 - l.r),
        | ps AS (SELECT shard, count(*) AS n_docs, sum(n_tokens) AS tokens,
        |   count(DISTINCT bin) AS n_bins,
        |   count(*) - count(DISTINCT bin) AS n_pairs
        |  FROM b GROUP BY shard)
        | SELECT ps.shard, CAST(ps.n_docs AS BIGINT) AS n_docs,
        |  CAST(coalesce(ov.n_oversize, 0) AS BIGINT) AS n_oversize,
        |  CAST(ps.tokens AS BIGINT) AS tokens,
        |  CAST(ps.n_bins AS BIGINT) AS n_bins,
        |  CAST(ps.n_pairs AS BIGINT) AS n_pairs,
        |  round(ps.tokens::DOUBLE / (ps.n_bins * 512), 6) AS fill_ratio,
        |  CAST(ceil(ps.tokens::DOUBLE / 512) AS BIGINT) AS lower_bound
        | FROM ps LEFT JOIN ov ON ov.shard = ps.shard
        | ORDER BY ps.shard""".stripMargin.replace("\n", " "),
    "corpus_pack" ->
      """WITH toks AS (SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8
        |    AS shard,
        |  CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        | o AS (SELECT doc_id, shard, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS end_off FROM toks)
        | SELECT doc_id, shard, n_tokens,
        |  CAST(end_off - n_tokens AS BIGINT) AS start_off,
        |  CAST(floor((end_off - n_tokens) / 512.0) AS BIGINT) AS first_seq,
        |  CAST(floor((end_off - 1) / 512.0) AS BIGINT) AS last_seq
        | FROM o ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "dedup_incremental" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h, doc_id % 2 AS is_new
        |  FROM documents),
        | seen AS (SELECT DISTINCT h FROM h WHERE is_new = 0),
        | nw AS (SELECT doc_id, h,
        |   row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rk
        |  FROM h WHERE is_new = 1)
        | SELECT nw.doc_id, CAST(rk AS BIGINT) AS batch_rank,
        |  CAST(s.h IS NULL AS INT) AS novel,
        |  CAST(s.h IS NULL AND rk = 1 AS INT) AS keep
        | FROM nw LEFT JOIN seen AS s ON nw.h = s.h ORDER BY nw.doc_id"""
        .stripMargin.replace("\n", " "),
    "corpus_decontam_embed" ->
      s"""WITH cb AS (${lshBandedSql(6, 4, "c_id", "WHERE vec_id >= 25")}),
         | bb AS (${lshBandedSql(6, 4, "b_id", "WHERE vec_id < 25")}),
         | cands AS (SELECT DISTINCT c_id, b_id FROM cb JOIN bb
         |  ON cb.tbl = bb.tbl AND cb.bucket = bb.bucket),
         | hits AS (SELECT c_id, max(cos) AS max_cos, count(*) AS n_hits FROM (
         |   SELECT c_id, ${cosSql("a", "b")} AS cos
         |   FROM cands JOIN embeddings AS a ON a.vec_id = c_id
         |    JOIN embeddings AS b ON b.vec_id = b_id) AS s
         |  WHERE cos > 0.40 GROUP BY c_id)
         | SELECT e.vec_id, round(coalesce(max_cos, 0), 6) AS max_bench_cos,
         |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_bench_hits,
         |  CAST(max_cos IS NOT NULL AS INT) AS contaminated
         | FROM (SELECT vec_id FROM embeddings WHERE vec_id >= 25) AS e
         | LEFT JOIN hits ON hits.c_id = e.vec_id ORDER BY e.vec_id"""
        .stripMargin.replace("\n", " "),
    "dedup_bloom" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h, doc_id % 2 AS is_new
        |  FROM documents),
        | hist AS (SELECT DISTINCT h FROM h WHERE is_new = 0),
        | ks AS (SELECT unnest([0, 1, 2, 3, 4]) AS i),
        | bpos AS (SELECT CAST('0x' || substr(md5(h || '#' || i), 1, 8)
        |    AS BIGINT) % 65536 AS pos FROM hist CROSS JOIN ks),
        | bloom AS (SELECT pos // 32 AS word_idx,
        |   bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
        |  FROM bpos GROUP BY 1),
        | probe AS (SELECT doc_id, h, CAST('0x' || substr(md5(h || '#' || i),
        |    1, 8) AS BIGINT) % 65536 AS pos
        |  FROM h CROSS JOIN ks WHERE is_new = 1),
        | hits AS (SELECT doc_id, min(CASE WHEN (coalesce(bits, 0) &
        |    (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) <> 0
        |   THEN 1 ELSE 0 END) AS might_dup
        |  FROM probe LEFT JOIN bloom ON probe.pos // 32 = bloom.word_idx
        |  GROUP BY doc_id)
        | SELECT b.doc_id, might_dup,
        |  CAST(s.h IS NULL AS INT) AS novel,
        |  CAST(might_dup = 1 AND s.h IS NULL AS INT) AS false_pos
        | FROM (SELECT doc_id, h FROM h WHERE is_new = 1) AS b
        | JOIN hits USING (doc_id) LEFT JOIN hist AS s ON b.h = s.h
        | ORDER BY b.doc_id""".stripMargin.replace("\n", " "),
    "text_normalize" ->
      """WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |   '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        | SELECT doc_id, norm AS norm_text,
        |  CAST(length(norm) AS INT) AS n_chars_norm,
        |  CAST(norm <> text AS INT) AS changed,
        |  md5(norm) AS norm_md5
        | FROM n ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "corpus_shuffle" ->
      """WITH r AS (SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shuffle#7'),
        |   1, 8) AS BIGINT) AS rnd FROM documents)
        | SELECT doc_id, rnd % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY rnd % 8
        |   ORDER BY rnd, doc_id) - 1 AS BIGINT) AS position, rnd
        | FROM r ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // stage = contiguous block of the exact (n_chars, doc_id) rank;
    // within-stage order = the same seeded md5 (shard, position)
    // coordinates corpus_shuffle uses
    "corpus_curriculum" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk,
        |  count(*) OVER () AS n,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#curriculum#3'),
        |   1, 8) AS BIGINT) AS rnd FROM documents),
        | s AS (SELECT doc_id, n_chars, rnd,
        |  CAST((rk * 4) // n AS INT) AS stage FROM r)
        | SELECT doc_id, n_chars, stage, rnd % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY stage, rnd % 8
        |   ORDER BY rnd, doc_id) - 1 AS BIGINT) AS position
        | FROM s ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "corpus_epochs" ->
      s"""WITH tk AS (SELECT source, CAST(sum(doctok) AS BIGINT)
         |   AS unique_tokens FROM (SELECT source,
         |   list_sum(list_transform(string_split_regex(lower(text), '\\s+'),
         |    t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS doctok
         |  FROM documents) AS d GROUP BY source),
         | n AS (SELECT CAST(sum(unique_tokens) AS BIGINT) AS total,
         |  sum(sqrt(unique_tokens::DOUBLE)) AS psum FROM tk),
         | a AS (SELECT tk.source, tk.unique_tokens,
         |   CAST(floor(sqrt(tk.unique_tokens::DOUBLE) / n.psum * n.total
         |    * 4.0) AS BIGINT) AS alloc_tokens
         |  FROM tk, n),
         | e AS (SELECT source, unique_tokens, alloc_tokens,
         |   alloc_tokens::DOUBLE / unique_tokens AS epochs FROM a)
         | SELECT source, unique_tokens, alloc_tokens,
         |  round(epochs, 6) AS epochs,
         |  round(CASE WHEN epochs <= 1 THEN alloc_tokens::DOUBLE
         |   ELSE unique_tokens * (1 + 15.39 * (1 - exp((1 - epochs)
         |    / 15.39))) END, 6) AS eff_tokens,
         |  round(CASE WHEN epochs <= 1 THEN alloc_tokens::DOUBLE
         |   ELSE unique_tokens * (1 + 15.39 * (1 - exp((1 - epochs)
         |    / 15.39))) END / alloc_tokens, 6) AS eff_frac
         | FROM e ORDER BY source""".stripMargin.replace("\n", " "),
    "corpus_temperature" ->
      """WITH s AS (SELECT source,
        |  CAST(sum(len(string_split_regex(lower(text), '\s+'))) AS BIGINT)
        |   AS tokens FROM documents GROUP BY source),
        | t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
        |  sum(sqrt(tokens)) AS psum FROM s)
        | SELECT source, tokens,
        |  round(tokens / t.total, 6) AS natural_share,
        |  round(sqrt(tokens) / t.psum, 6) AS temp_share,
        |  round(sqrt(tokens) / t.psum * t.total / tokens, 6) AS epochs
        | FROM s, t ORDER BY source""".stripMargin.replace("\n", " "),
    "corpus_funnel" ->
      s"""WITH tok AS (SELECT doc_id,
         |  len(string_split_regex(lower(text), '\\s+'))::BIGINT AS tok
         |  FROM documents),
         | c4 AS (SELECT doc_id,
         |  CAST(n_words >= 50 AND has_brace = 0 AND has_bad_phrase = 0 AS INT)
         |   AS c4_pass FROM (SELECT doc_id,
         |   len(string_split_regex(lower(text), '\\s+'))::BIGINT AS n_words,
         |   CAST(contains(text, '{') AS INT) AS has_brace,
         |   CAST(contains(lower(text), 'lorem ipsum')
         |     OR contains(lower(text), 'javascript')
         |     OR contains(lower(text), 'cookie')
         |     OR contains(lower(text), 'privacy policy')
         |     OR contains(lower(text), 'terms of use') AS INT) AS has_bad_phrase
         |  FROM documents) AS t),
         | gp AS (SELECT doc_id,
         |  CAST(mean_word_len >= 3 AND mean_word_len <= 10
         |   AND dup_line_frac <= 0.3 AND symbol_ratio <= 0.1 AS INT)
         |   AS gopher_pass FROM ($GOPHER_INNER) AS q),
         | dd AS (SELECT doc_id, CASE WHEN row_number() OVER (
         |   PARTITION BY md5(text) ORDER BY doc_id) > 1 THEN 1 ELSE 0 END
         |   AS is_dup FROM documents),
         | f AS (SELECT tok.doc_id, tok.tok, c4.c4_pass, gp.gopher_pass,
         |   dd.is_dup FROM tok JOIN c4 USING (doc_id)
         |  JOIN gp USING (doc_id) JOIN dd USING (doc_id)),
         | one AS (SELECT count(*) AS d0, CAST(sum(tok) AS BIGINT) AS t0,
         |  CAST(sum(CASE WHEN c4_pass = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         |  CAST(sum(CASE WHEN c4_pass = 1 THEN tok ELSE 0 END) AS BIGINT) AS t1,
         |  CAST(sum(CASE WHEN c4_pass = 1 AND gopher_pass = 1
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         |  CAST(sum(CASE WHEN c4_pass = 1 AND gopher_pass = 1
         |    THEN tok ELSE 0 END) AS BIGINT) AS t2,
         |  CAST(sum(CASE WHEN c4_pass = 1 AND gopher_pass = 1 AND is_dup = 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         |  CAST(sum(CASE WHEN c4_pass = 1 AND gopher_pass = 1 AND is_dup = 0
         |    THEN tok ELSE 0 END) AS BIGINT) AS t3 FROM f)
         | SELECT stage, stage_name, docs, tokens,
         |  round(docs / d0, 6) AS doc_frac,
         |  round(tokens / t0, 6) AS token_frac FROM (
         |  SELECT 0 AS stage, 'all' AS stage_name, d0 AS docs, t0 AS tokens,
         |   d0, t0 FROM one
         |  UNION ALL SELECT 1, 'c4', d1, t1, d0, t0 FROM one
         |  UNION ALL SELECT 2, 'c4_gopher', d2, t2, d0, t0 FROM one
         |  UNION ALL SELECT 3, 'c4_gopher_dedup', d3, t3, d0, t0 FROM one)
         |  AS u ORDER BY stage""".stripMargin.replace("\n", " "),
    "corpus_pack_stats" ->
      """WITH toks AS (SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8
        |    AS shard,
        |  CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        | o AS (SELECT doc_id, shard, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS end_off FROM toks),
        | p AS (SELECT doc_id, shard, n_tokens,
        |  CAST(floor((end_off - n_tokens) / 512.0) AS BIGINT) AS first_seq,
        |  CAST(floor((end_off - 1) / 512.0) AS BIGINT) AS last_seq FROM o)
        | SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |  CAST(max(last_seq) + 1 AS BIGINT) AS n_seqs,
        |  CAST(sum(CASE WHEN first_seq <> last_seq THEN 1 ELSE 0 END)
        |    AS BIGINT) AS straddlers,
        |  round(sum(n_tokens) / (CAST(max(last_seq) + 1 AS BIGINT) * 512.0), 6)
        |    AS fill_ratio
        | FROM p GROUP BY shard ORDER BY shard""".stripMargin.replace("\n", " "),
    // one global (quality desc, doc_id) walk with a running token
    // sum — the engine's two-phase shard rank + prefix offsets must
    // reproduce this single window exactly
    "corpus_select" -> {
      val allSw = TextAnalysis.stopwords.values.flatten.toSeq.distinct
        .map(s => s"'$s'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, text,
         |   string_split_regex(lower(text), '\\s+') AS ws FROM documents),
         | q AS (SELECT doc_id,
         |   round((least(length(text)::DOUBLE / 500.0, 1.0)
         |    + len(list_distinct(ws))::DOUBLE / len(ws)
         |    + least(len(list_filter(ws, x -> list_contains([$allSw], x)))::DOUBLE
         |        / len(ws) * 4, 1.0)) / 3.0, 6) AS quality_score,
         |   CAST(list_sum(list_transform(ws,
         |     w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_tokens
         |  FROM t),
         | r AS (SELECT doc_id, quality_score, n_tokens,
         |   CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id)
         |     AS BIGINT) AS rank,
         |   CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
         |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM q)
         | SELECT doc_id, quality_score, n_tokens, rank, cum_tokens,
         |  CAST(cum_tokens - n_tokens < 25000 AS INT) AS selected
         | FROM r ORDER BY rank""".stripMargin.replace("\n", " ")
    },
    // single per-source rank — the engine's two-phase salted form
    // must agree exactly (per-stratum top-k covers the global top-k)
    "corpus_sample" ->
      """SELECT doc_id, source, rk FROM (
        | SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY rnd, doc_id) AS BIGINT) AS rk
        | FROM (SELECT doc_id, source,
        |   CAST('0x' || substr(md5(doc_id || ':0'), 1, 8) AS BIGINT) AS rnd
        |  FROM documents) AS h) AS t
        | WHERE rk <= 10 ORDER BY source, rk""".stripMargin.replace("\n", " "),
    "text_novelty" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, h, h_hi FROM ($H) AS hh),
         | per AS (SELECT doc_id, count(*) AS n_shingles FROM sh
         |         GROUP BY doc_id),
         | uniq AS (SELECT min(doc_id) AS doc_id FROM sh
         |          GROUP BY h, h_hi HAVING count(*) = 1),
         | nov AS (SELECT doc_id, count(*) AS n_novel FROM uniq
         |         GROUP BY doc_id)
         | SELECT d.doc_id, coalesce(per.n_shingles, 0) AS n_shingles,
         |  coalesce(nov.n_novel, 0) AS n_novel,
         |  round(coalesce(nov.n_novel, 0) / per.n_shingles, 6) AS novelty
         | FROM documents AS d
         | LEFT JOIN per USING (doc_id) LEFT JOIN nov USING (doc_id)
         | ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
    "corpus_source_kl" ->
      """WITH sw AS (SELECT source, w, count(*) AS c_sw FROM (
        |   SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS w
        |   FROM documents) AS u GROUP BY source, w),
        | cw AS (SELECT w, sum(c_sw) AS c_w FROM sw GROUP BY w),
        | ns AS (SELECT source, sum(c_sw) AS n_s FROM sw GROUP BY source),
        | nt AS (SELECT sum(c_w) AS n_total FROM cw)
        | SELECT source, CAST(max(n_s) AS BIGINT) AS n_words,
        |  count(*) AS vocab,
        |  round(sum((c_sw / n_s) * ln((c_sw / n_s) / (c_w / n_total))), 6)
        |   AS kl
        | FROM sw JOIN cw USING (w) JOIN ns USING (source), nt
        | GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),
    // the engine's md5-derived weight vector rebuilt inline, the
    // token fold as a sequential list_reduce (same left-to-right
    // association as Spark's aggregate HOF)
    // all GD rounds unrolled: per round, the per-doc logit against
    // the previous weight table, the sigmoid, the per-bucket
    // gradient, and the weight update — round 1 is exp-free by
    // construction (w0 = 0 ⇒ p = 0.5)
    "text_classifier_train" ->
      s"""WITH ${classifierTrainCtes()}
         | SELECT j, round(w, 6) AS weight FROM w3
         | ORDER BY j""".stripMargin.replace("\n", " "),
    // score every doc with the ROUNDED trained weights, bucket the
    // error norm |p - y| into rounded-score deciles per source
    "corpus_el2n" ->
      s"""WITH ${classifierTrainCtes()},
         | wr AS (SELECT j, round(w, 6) AS w FROM w3),
         | yb AS (SELECT doc_id, source,
         |   CAST(lang = 'en' AS DOUBLE) AS y FROM documents),
         | z AS (SELECT f.doc_id, sum(f.x * wr.w) AS z
         |  FROM f JOIN wr ON wr.j = f.j GROUP BY f.doc_id),
         | sc AS (SELECT yb.source,
         |   CAST(round(abs(1.0 / (1.0 + exp(-z.z)) - yb.y) * 1000000)
         |    AS BIGINT) AS e6
         |  FROM z JOIN yb USING (doc_id)),
         | b AS (SELECT source,
         |   least(CAST(floor(e6 / 100000) AS BIGINT), 9) AS bucket, e6
         |  FROM sc)
         | SELECT source, bucket, count(*) AS n,
         |  floor(sum(e6)::DOUBLE / count(*)) / 1000000.0 AS avg_el2n
         | FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " "),
    "text_classifier" -> {
      val dim = 256
      s"""WITH w AS (SELECT list(wv ORDER BY i) AS arr FROM (
         |  SELECT i, (CAST('0x' || substr(md5('w' || i), 1, 8) AS BIGINT)
         |   % 1000000) / 1e6 - 0.5 AS wv FROM range($dim) t(i)) AS g),
         | d AS (SELECT doc_id,
         |  string_split_regex(lower(text), '\\s+') AS toks FROM documents),
         | sc AS (SELECT doc_id, len(toks) AS n_tokens,
         |  list_reduce(list_transform(toks, t -> arr[
         |    CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % $dim AS INT)
         |     + 1]), (a, b) -> a + b) / len(toks) AS raw
         |  FROM d, w)
         | SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  round(1 / (1 + exp(-raw)), 6) AS quality_score,
         |  CAST(raw >= 0 AS INT) AS keep
         | FROM sc ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    "text_calibration" -> {
      val dim = 256
      s"""WITH w AS (SELECT list(wv ORDER BY i) AS arr FROM (
         |  SELECT i, (CAST('0x' || substr(md5('w' || i), 1, 8) AS BIGINT)
         |   % 1000000) / 1e6 - 0.5 AS wv FROM range($dim) t(i)) AS g),
         | d AS (SELECT doc_id, lang,
         |  string_split_regex(lower(text), '\\s+') AS toks FROM documents),
         | sc AS (SELECT round(1 / (1 + exp(-(
         |  list_reduce(list_transform(toks, t -> arr[
         |    CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % $dim AS INT)
         |     + 1]), (a, b) -> a + b) / len(toks)))), 6) AS conf,
         |  CAST(lang = 'en' AS INT) AS y FROM d, w),
         | b AS (SELECT CAST(least(floor(conf * 10), 9) AS INT) AS bin,
         |  conf, y FROM sc),
         | per AS (SELECT bin, count(*) AS n, avg(conf) AS conf_raw,
         |  avg(y) AS acc_raw FROM b GROUP BY bin),
         | tot AS (SELECT sum(n) AS n_tot,
         |  sum(abs(conf_raw - acc_raw) * n) AS wsum FROM per)
         | SELECT bin, n, round(conf_raw, 6) AS mean_conf,
         |  round(acc_raw, 6) AS pos_rate,
         |  round(abs(conf_raw - acc_raw), 6) AS gap,
         |  round(wsum / n_tot, 6) AS ece
         | FROM per, tot ORDER BY bin""".stripMargin.replace("\n", " ")
    },
    "text_classifier_eval" -> {
      val dim = 256
      s"""WITH w AS (SELECT list(wv ORDER BY i) AS arr FROM (
         |  SELECT i, (CAST('0x' || substr(md5('w' || i), 1, 8) AS BIGINT)
         |   % 1000000) / 1e6 - 0.5 AS wv FROM range($dim) t(i)) AS g),
         | d AS (SELECT doc_id, lang,
         |  string_split_regex(lower(text), '\\s+') AS toks FROM documents
         |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |   AS BIGINT) % 5 = 0),
         | sc AS (SELECT round(1 / (1 + exp(-(
         |  list_reduce(list_transform(toks, t -> arr[
         |    CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % $dim AS INT)
         |     + 1]), (a, b) -> a + b) / len(toks)))), 6) AS s,
         |  CAST(lang = 'en' AS BIGINT) AS y FROM d, w),
         | bys AS (SELECT s, count(*) AS c, sum(y) AS p FROM sc GROUP BY s),
         | rk AS (SELECT p, c, coalesce(sum(c) OVER (ORDER BY s
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM bys),
         | rs AS (SELECT sum(p * (2 * cb + c + 1)) AS sum2 FROM rk),
         | cf AS (SELECT count(*) AS n_test,
         |   CAST(sum(y) AS BIGINT) AS pos,
         |   CAST(sum(CASE WHEN s >= 0.5 AND y = 1
         |    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |   CAST(sum(CASE WHEN s >= 0.5 AND y = 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |   CAST(sum(CASE WHEN s < 0.5 AND y = 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |   CAST(sum(CASE WHEN s < 0.5 AND y = 1
         |    THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM sc)
         | SELECT n_test, pos, n_test - pos AS neg, tp, fp, tn, fn,
         |  round((tp + tn) / n_test::DOUBLE, 6) AS accuracy,
         |  round(CASE WHEN tp + fp > 0
         |   THEN tp / (tp + fp)::DOUBLE END, 6) AS prec,
         |  round(CASE WHEN pos > 0 THEN tp / pos::DOUBLE END, 6) AS recall,
         |  round(CASE WHEN tp * 2 + fp + fn > 0
         |   THEN tp * 2 / (tp * 2 + fp + fn)::DOUBLE END, 6) AS f1,
         |  round(CASE WHEN pos > 0 AND n_test - pos > 0
         |   THEN (sum2 - pos * (pos + 1))::DOUBLE
         |    / (2.0 * pos * (n_test - pos)) END, 6) AS auc
         | FROM cf, rs""".stripMargin.replace("\n", " ")
    },
    // same xorshift chain as mm_blur; byte-value counts → entropy
    // spelled identically to the Scala loop (p·(ln p / ln 2))
    "mm_entropy" ->
      """WITH RECURSIVE sz AS (SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 64 AS INT) AS w,
        |  CAST(16 + doc_id % 48 AS INT) AS h,
        |  CAST(((16 + doc_id % 64) * 3 + 3) // 4 * 4 AS INT) AS row_size
        | FROM documents),
        | lim AS (SELECT *, row_size * h AS data_size FROM sz),
        | chain(media_id, k, s) AS (
        |  SELECT media_id, 0, CAST(media_id AS UBIGINT) | 1 FROM lim
        |  UNION ALL
        |  SELECT c.media_id, c.k + 1,
        |   (SELECT xor(xor(b, b >> 7), CAST((CAST(xor(b, b >> 7) AS HUGEINT)
        |      * 131072) % 18446744073709551616 AS UBIGINT))
        |    FROM (SELECT xor(c.s, CAST((CAST(c.s AS HUGEINT) * 8192)
        |      % 18446744073709551616 AS UBIGINT)) AS b) AS t)
        |  FROM chain AS c JOIN lim ON lim.media_id = c.media_id
        |  WHERE c.k < lim.data_size),
        | bytes AS (SELECT media_id, k - 1 AS pos,
        |   CAST(s >> 56 AS BIGINT) AS b FROM chain WHERE k >= 1),
        | pxb AS (SELECT b.media_id, b.b
        |  FROM bytes AS b JOIN lim ON lim.media_id = b.media_id
        |  WHERE (b.pos % lim.row_size) < lim.w * 3),
        | e AS (SELECT media_id, b, count(*) AS c FROM pxb GROUP BY 1, 2),
        | nn AS (SELECT media_id, CAST(sum(c) AS DOUBLE) AS n,
        |   count(*) AS distinct_bytes FROM e GROUP BY 1),
        | hh AS (SELECT e.media_id,
        |   -sum((e.c / nn.n) * (ln(e.c / nn.n) / ln(2))) AS hbits
        |  FROM e JOIN nn ON nn.media_id = e.media_id GROUP BY 1)
        | SELECT lim.media_id, lim.w AS width, lim.h AS height,
        |  CAST(nn.distinct_bytes AS BIGINT) AS distinct_bytes,
        |  floor(hh.hbits * 1000000) / 1000000 AS entropy_bits
        | FROM lim JOIN nn ON nn.media_id = lim.media_id
        | JOIN hh ON hh.media_id = lim.media_id
        | ORDER BY lim.media_id""".stripMargin.replace("\n", " "),
    // same xorshift chain; integer grayscale (b+g+r)//3 per pixel,
    // 4-neighbor Laplacian via self-joins (inner joins on all four
    // neighbors ARE the interior filter), exact integer variance
    "mm_blur" ->
      """WITH RECURSIVE sz AS (SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 64 AS INT) AS w,
        |  CAST(16 + doc_id % 48 AS INT) AS h,
        |  CAST(((16 + doc_id % 64) * 3 + 3) // 4 * 4 AS INT) AS row_size
        | FROM documents),
        | lim AS (SELECT *, row_size * h AS data_size FROM sz),
        | chain(media_id, k, s) AS (
        |  SELECT media_id, 0, CAST(media_id AS UBIGINT) | 1 FROM lim
        |  UNION ALL
        |  SELECT c.media_id, c.k + 1,
        |   (SELECT xor(xor(b, b >> 7), CAST((CAST(xor(b, b >> 7) AS HUGEINT)
        |      * 131072) % 18446744073709551616 AS UBIGINT))
        |    FROM (SELECT xor(c.s, CAST((CAST(c.s AS HUGEINT) * 8192)
        |      % 18446744073709551616 AS UBIGINT)) AS b) AS t)
        |  FROM chain AS c JOIN lim ON lim.media_id = c.media_id
        |  WHERE c.k < lim.data_size),
        | bytes AS (SELECT media_id, k - 1 AS pos,
        |   CAST(s >> 56 AS BIGINT) AS b FROM chain WHERE k >= 1),
        | pxb AS (SELECT b.media_id,
        |   CAST((b.pos % lim.row_size) // 3 AS INT) AS x,
        |   CAST(b.pos // lim.row_size AS INT) AS y, b.b
        |  FROM bytes AS b JOIN lim ON lim.media_id = b.media_id
        |  WHERE (b.pos % lim.row_size) < lim.w * 3),
        | g AS (SELECT media_id, x, y,
        |   CAST(sum(b) // 3 AS BIGINT) AS gv FROM pxb GROUP BY 1, 2, 3),
        | lap AS (SELECT c.media_id,
        |   4 * c.gv - l.gv - r.gv - u.gv - d.gv AS lp
        |  FROM g c
        |  JOIN g l ON l.media_id = c.media_id AND l.x = c.x - 1
        |   AND l.y = c.y
        |  JOIN g r ON r.media_id = c.media_id AND r.x = c.x + 1
        |   AND r.y = c.y
        |  JOIN g u ON u.media_id = c.media_id AND u.x = c.x
        |   AND u.y = c.y - 1
        |  JOIN g d ON d.media_id = c.media_id AND d.x = c.x
        |   AND d.y = c.y + 1),
        | st AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(lp) AS BIGINT) AS sl,
        |   CAST(sum(lp * lp) AS BIGINT) AS sl2 FROM lap GROUP BY 1)
        | SELECT lim.media_id, lim.w AS width, lim.h AS height,
        |  st.n AS n_interior,
        |  floor((st.n * st.sl2 - st.sl * st.sl)::DOUBLE
        |   / (st.n * st.n) * 1000000) / 1000000 AS lap_var,
        |  CAST(floor((st.n * st.sl2 - st.sl * st.sl)::DOUBLE
        |   / (st.n * st.n) * 1000000) / 1000000 < 50.0 AS INT) AS blurry
        | FROM st JOIN lim ON lim.media_id = st.media_id
        | ORDER BY lim.media_id""".stripMargin.replace("\n", " "),
    // same xorshift chain as mm_phash; per-byte channel = column
    // index mod 3 (BGR), padding bytes excluded; integer-exact sums
    "mm_channel_stats" ->
      """WITH RECURSIVE sz AS (SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 64 AS INT) AS w,
        |  CAST(16 + doc_id % 48 AS INT) AS h,
        |  CAST(((16 + doc_id % 64) * 3 + 3) // 4 * 4 AS INT) AS row_size
        | FROM documents),
        | lim AS (SELECT *, row_size * h AS data_size FROM sz),
        | chain(media_id, k, s) AS (
        |  SELECT media_id, 0, CAST(media_id AS UBIGINT) | 1 FROM lim
        |  UNION ALL
        |  SELECT c.media_id, c.k + 1,
        |   (SELECT xor(xor(b, b >> 7), CAST((CAST(xor(b, b >> 7) AS HUGEINT)
        |      * 131072) % 18446744073709551616 AS UBIGINT))
        |    FROM (SELECT xor(c.s, CAST((CAST(c.s AS HUGEINT) * 8192)
        |      % 18446744073709551616 AS UBIGINT)) AS b) AS t)
        |  FROM chain AS c JOIN lim ON lim.media_id = c.media_id
        |  WHERE c.k < lim.data_size),
        | bytes AS (SELECT media_id, k - 1 AS pos,
        |   CAST(s >> 56 AS BIGINT) AS b FROM chain WHERE k >= 1),
        | pxc AS (SELECT b.media_id, (b.pos % lim.row_size) % 3 AS ch, b.b
        |  FROM bytes AS b JOIN lim ON lim.media_id = b.media_id
        |  WHERE (b.pos % lim.row_size) < lim.w * 3),
        | sums AS (SELECT media_id,
        |   CAST(sum(CASE WHEN ch = 0 THEN b END) AS BIGINT) AS sum_b,
        |   CAST(sum(CASE WHEN ch = 1 THEN b END) AS BIGINT) AS sum_g,
        |   CAST(sum(CASE WHEN ch = 2 THEN b END) AS BIGINT) AS sum_r
        |  FROM pxc GROUP BY media_id)
        | SELECT lim.media_id, lim.w AS width, lim.h AS height,
        |  s.sum_b, s.sum_g, s.sum_r,
        |  round(s.sum_b::DOUBLE / (lim.w * lim.h), 6) AS mean_b,
        |  round(s.sum_g::DOUBLE / (lim.w * lim.h), 6) AS mean_g,
        |  round(s.sum_r::DOUBLE / (lim.w * lim.h), 6) AS mean_r
        | FROM sums AS s JOIN lim ON lim.media_id = s.media_id
        | ORDER BY lim.media_id""".stripMargin.replace("\n", " "),
    // PNG real-format decode: same xorshift replay as
    // mm_channel_stats minus the BMP padding/bottom-up complications
    // (PNG pixel k's channels are stream bytes 3k..3k+2 verbatim —
    // lossless codec, so the engine's ImageIO.read returns them)
    "mm_png" ->
      """WITH RECURSIVE sz AS (SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 24 AS INT) AS w,
        |  CAST(8 + doc_id % 16 AS INT) AS h
        | FROM documents),
        | lim AS (SELECT *, w * h * 3 AS data_size FROM sz),
        | chain(media_id, k, s) AS (
        |  SELECT media_id, 0, CAST(media_id AS UBIGINT) | 1 FROM lim
        |  UNION ALL
        |  SELECT c.media_id, c.k + 1,
        |   (SELECT xor(xor(b, b >> 7), CAST((CAST(xor(b, b >> 7) AS HUGEINT)
        |      * 131072) % 18446744073709551616 AS UBIGINT))
        |    FROM (SELECT xor(c.s, CAST((CAST(c.s AS HUGEINT) * 8192)
        |      % 18446744073709551616 AS UBIGINT)) AS b) AS t)
        |  FROM chain AS c JOIN lim ON lim.media_id = c.media_id
        |  WHERE c.k < lim.data_size),
        | bytes AS (SELECT media_id, k - 1 AS pos,
        |   CAST(s >> 56 AS BIGINT) AS b FROM chain WHERE k >= 1),
        | sums AS (SELECT media_id,
        |   CAST(sum(CASE WHEN pos % 3 = 0 THEN b END) AS BIGINT) AS sum_r,
        |   CAST(sum(CASE WHEN pos % 3 = 1 THEN b END) AS BIGINT) AS sum_g,
        |   CAST(sum(CASE WHEN pos % 3 = 2 THEN b END) AS BIGINT) AS sum_b
        |  FROM bytes GROUP BY media_id)
        | SELECT lim.media_id, lim.w AS width, lim.h AS height,
        |  s.sum_r, s.sum_g, s.sum_b,
        |  round(s.sum_r::DOUBLE / (lim.w * lim.h), 6) AS mean_r,
        |  round(s.sum_g::DOUBLE / (lim.w * lim.h), 6) AS mean_g,
        |  round(s.sum_b::DOUBLE / (lim.w * lim.h), 6) AS mean_b
        | FROM sums AS s JOIN lim ON lim.media_id = s.media_id
        | ORDER BY lim.media_id""".stripMargin.replace("\n", " "),
    // GIF real-format decode: one xorshift byte per pixel (grayscale
    // palette — no channel interleave, no padding)
    "mm_gif" ->
      """WITH RECURSIVE sz AS (SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 24 AS INT) AS w,
        |  CAST(8 + doc_id % 16 AS INT) AS h
        | FROM documents),
        | lim AS (SELECT *, w * h AS data_size FROM sz),
        | chain(media_id, k, s) AS (
        |  SELECT media_id, 0, CAST(media_id AS UBIGINT) | 1 FROM lim
        |  UNION ALL
        |  SELECT c.media_id, c.k + 1,
        |   (SELECT xor(xor(b, b >> 7), CAST((CAST(xor(b, b >> 7) AS HUGEINT)
        |      * 131072) % 18446744073709551616 AS UBIGINT))
        |    FROM (SELECT xor(c.s, CAST((CAST(c.s AS HUGEINT) * 8192)
        |      % 18446744073709551616 AS UBIGINT)) AS b) AS t)
        |  FROM chain AS c JOIN lim ON lim.media_id = c.media_id
        |  WHERE c.k < lim.data_size),
        | sums AS (SELECT media_id, CAST(sum(s >> 56) AS BIGINT) AS sum_gray
        |  FROM chain WHERE k >= 1 GROUP BY media_id)
        | SELECT lim.media_id, lim.w AS width, lim.h AS height, s.sum_gray,
        |  round(s.sum_gray::DOUBLE / (lim.w * lim.h), 6) AS mean_gray
        | FROM sums AS s JOIN lim ON lim.media_id = s.media_id
        | ORDER BY lim.media_id""".stripMargin.replace("\n", " "),
    // JPEG is lossy: the oracle pins the exactly-preserved geometry
    // and the drift_ok contract (a codec regression flips the flag
    // and fails the hash, instead of hiding inside a tolerance)
    "mm_jpeg" ->
      """SELECT doc_id AS media_id, CAST(8 + doc_id % 24 AS INT) AS width,
        | CAST(8 + doc_id % 16 AS INT) AS height, TRUE AS drift_ok
        | FROM documents ORDER BY media_id""".stripMargin.replace("\n", " "),
    // exact replay of Multimodal.encodeBmp + aHash: xorshift64 with
    // wrapping << emulated via HUGEINT multiply mod 2^64; byte k of the
    // pixel array = state_k >> 56; padded bottom-up rows; integer cell
    // sums; bit c = 64*cellsum >= total
    "mm_phash" ->
      """WITH RECURSIVE sz AS (SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 64 AS INT) AS w,
        |  CAST(16 + doc_id % 48 AS INT) AS h,
        |  CAST(((16 + doc_id % 64) * 3 + 3) // 4 * 4 AS INT) AS row_size
        | FROM documents),
        | lim AS (SELECT *, row_size * h AS data_size FROM sz),
        | chain(media_id, k, s) AS (
        |  SELECT media_id, 0, CAST(media_id AS UBIGINT) | 1 FROM lim
        |  UNION ALL
        |  SELECT c.media_id, c.k + 1,
        |   (SELECT xor(xor(b, b >> 7), CAST((CAST(xor(b, b >> 7) AS HUGEINT)
        |      * 131072) % 18446744073709551616 AS UBIGINT))
        |    FROM (SELECT xor(c.s, CAST((CAST(c.s AS HUGEINT) * 8192)
        |      % 18446744073709551616 AS UBIGINT)) AS b) AS t)
        |  FROM chain AS c JOIN lim ON lim.media_id = c.media_id
        |  WHERE c.k < lim.data_size),
        | bytes AS (SELECT media_id, k - 1 AS pos,
        |   CAST(s >> 56 AS BIGINT) AS b FROM chain WHERE k >= 1),
        | px AS (SELECT b.media_id, b.pos // lim.row_size AS y,
        |   (b.pos % lim.row_size) // 3 AS x, b.b
        |  FROM bytes AS b JOIN lim ON lim.media_id = b.media_id
        |  WHERE (b.pos % lim.row_size) < lim.w * 3),
        | cells AS (SELECT px.media_id,
        |   ((px.y * 8) // lim.h) * 8 + ((px.x * 8) // lim.w) AS cell,
        |   sum(px.b) AS cellsum
        |  FROM px JOIN lim ON lim.media_id = px.media_id
        |  GROUP BY 1, 2),
        | bits AS (SELECT media_id, cell, cellsum,
        |   sum(cellsum) OVER (PARTITION BY media_id) AS total FROM cells),
        | ph AS (SELECT media_id,
        |   bit_or(CASE WHEN 64 * cellsum >= total
        |     THEN CAST(1 AS UBIGINT) << CAST(cell AS INT)
        |     ELSE CAST(0 AS UBIGINT) END) AS phash
        |  FROM bits GROUP BY media_id)
        | SELECT lim.media_id, lim.w AS width, lim.h AS height,
        |  lpad(lower(hex(ph.phash)), 16, '0') AS phash_hex
        | FROM ph JOIN lim ON lim.media_id = ph.media_id
        | ORDER BY lim.media_id""".stripMargin.replace("\n", " "),
    // same xorshift byte chain as mm_phash; output pixel (x, y, c)
    // reads source byte ((y*h)//12)*row_size + ((x*w)//16)*3 + c and
    // contributes (out_rowpos+1)*byte to the checksum (out row size
    // 48 = 16*3, no padding at this geometry)
    "mm_resize" ->
      """WITH RECURSIVE sz AS (SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 64 AS INT) AS w,
        |  CAST(16 + doc_id % 48 AS INT) AS h,
        |  CAST(((16 + doc_id % 64) * 3 + 3) // 4 * 4 AS INT) AS row_size
        | FROM documents),
        | lim AS (SELECT *, row_size * h AS data_size FROM sz),
        | chain(media_id, k, s) AS (
        |  SELECT media_id, 0, CAST(media_id AS UBIGINT) | 1 FROM lim
        |  UNION ALL
        |  SELECT c.media_id, c.k + 1,
        |   (SELECT xor(xor(b, b >> 7), CAST((CAST(xor(b, b >> 7) AS HUGEINT)
        |      * 131072) % 18446744073709551616 AS UBIGINT))
        |    FROM (SELECT xor(c.s, CAST((CAST(c.s AS HUGEINT) * 8192)
        |      % 18446744073709551616 AS UBIGINT)) AS b) AS t)
        |  FROM chain AS c JOIN lim ON lim.media_id = c.media_id
        |  WHERE c.k < lim.data_size),
        | bytes AS (SELECT media_id, k - 1 AS pos,
        |   CAST(s >> 56 AS BIGINT) AS b FROM chain WHERE k >= 1),
        | outpx AS (SELECT lim.media_id,
        |   oy.i * 48 + ox.i * 3 + cc.i + 1 AS wgt,
        |   ((oy.i * lim.h) // 12) * lim.row_size
        |    + ((ox.i * lim.w) // 16) * 3 + cc.i AS spos
        |  FROM lim, range(12) AS oy(i), range(16) AS ox(i),
        |   range(3) AS cc(i)),
        | terms AS (SELECT o.media_id, o.wgt * b.b AS term
        |  FROM outpx AS o JOIN bytes AS b
        |   ON b.media_id = o.media_id AND b.pos = o.spos)
        | SELECT lim.media_id, lim.w AS width, lim.h AS height,
        |  16 AS out_w, 12 AS out_h, CAST(54 + 48 * 12 AS BIGINT) AS out_bytes,
        |  CAST(sum(t.term) AS BIGINT) AS checksum
        | FROM terms AS t JOIN lim ON lim.media_id = t.media_id
        | GROUP BY lim.media_id, lim.w, lim.h
        | ORDER BY lim.media_id""".stripMargin.replace("\n", " "),
    "mm_resample" ->
      """WITH RECURSIVE lim AS (SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 2 AS INT) AS n_ch,
        |  CAST(256 + doc_id % 1024 AS BIGINT) AS n_samples,
        |  CAST((1 + doc_id % 2) * 2 AS BIGINT) AS block,
        |  CAST((256 + doc_id % 1024) * (1 + doc_id % 2) * 2 AS BIGINT)
        |   AS data_size
        | FROM documents),
        | chain(media_id, k, s) AS (
        |  SELECT media_id, 0, CAST(media_id AS UBIGINT) | 1 FROM lim
        |  UNION ALL
        |  SELECT c.media_id, c.k + 1,
        |   (SELECT xor(xor(b, b >> 7), CAST((CAST(xor(b, b >> 7) AS HUGEINT)
        |      * 131072) % 18446744073709551616 AS UBIGINT))
        |    FROM (SELECT xor(c.s, CAST((CAST(c.s AS HUGEINT) * 8192)
        |      % 18446744073709551616 AS UBIGINT)) AS b) AS t)
        |  FROM chain AS c JOIN lim ON lim.media_id = c.media_id
        |  WHERE c.k < lim.data_size),
        | bytes AS (SELECT media_id, k - 1 AS pos,
        |   CAST(s >> 56 AS BIGINT) AS b FROM chain WHERE k >= 1),
        | outb AS (SELECT lim.media_id,
        |   j.i * lim.block + cc.i + 1 AS wgt,
        |   ((j.i * lim.n_samples) // 200) * lim.block + cc.i AS spos
        |  FROM lim, range(200) AS j(i), range(4) AS cc(i)
        |  WHERE cc.i < lim.block),
        | terms AS (SELECT o.media_id, o.wgt * b.b AS term
        |  FROM outb AS o JOIN bytes AS b
        |   ON b.media_id = o.media_id AND b.pos = o.spos)
        | SELECT lim.media_id, lim.n_ch AS n_channels,
        |  lim.n_samples AS in_frames, 200 AS out_frames,
        |  CAST(44 + 200 * lim.block AS BIGINT) AS out_bytes,
        |  CAST(sum(t.term) AS BIGINT) AS checksum
        | FROM terms AS t JOIN lim ON lim.media_id = t.media_id
        | GROUP BY lim.media_id, lim.n_ch, lim.n_samples, lim.block
        | ORDER BY lim.media_id""".stripMargin.replace("\n", " "),
    "mm_audio_quality" ->
      """WITH RECURSIVE lim AS (SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 2 AS INT) AS n_ch,
        |  CAST(256 + doc_id % 1024 AS BIGINT) AS n_samples,
        |  CAST((256 + doc_id % 1024) * (1 + doc_id % 2) AS BIGINT)
        |   AS total_s,
        |  CAST((256 + doc_id % 1024) * (1 + doc_id % 2) * 2 AS BIGINT)
        |   AS data_size
        | FROM documents),
        | chain(media_id, k, s) AS (
        |  SELECT media_id, 0, CAST(media_id AS UBIGINT) | 1 FROM lim
        |  UNION ALL
        |  SELECT c.media_id, c.k + 1,
        |   (SELECT xor(xor(b, b >> 7), CAST((CAST(xor(b, b >> 7) AS HUGEINT)
        |      * 131072) % 18446744073709551616 AS UBIGINT))
        |    FROM (SELECT xor(c.s, CAST((CAST(c.s AS HUGEINT) * 8192)
        |      % 18446744073709551616 AS UBIGINT)) AS b) AS t)
        |  FROM chain AS c JOIN lim ON lim.media_id = c.media_id
        |  WHERE c.k < lim.data_size),
        | bytes AS (SELECT media_id, k - 1 AS pos,
        |   CAST(s >> 56 AS BIGINT) AS b FROM chain WHERE k >= 1),
        | smp AS (SELECT media_id, pos // 2 AS k,
        |   sum(CASE WHEN pos % 2 = 0 THEN b ELSE 256 * b END) AS v_raw
        |  FROM bytes GROUP BY 1, 2),
        | sv AS (SELECT media_id,
        |   abs(CASE WHEN v_raw >= 32768 THEN v_raw - 65536 ELSE v_raw END)
        |    AS v FROM smp),
        | ag AS (SELECT media_id, count(*) AS n_samples,
        |   CAST(sum(CASE WHEN v < 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_silent,
        |   CAST(sum(CASE WHEN v >= 32700 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped,
        |   CAST(sum(v * v) AS BIGINT) AS sum_sq FROM sv GROUP BY 1)
        | SELECT lim.media_id, lim.n_ch AS n_channels, ag.n_samples,
        |  ag.n_silent, ag.n_clipped,
        |  floor(ag.n_silent::DOUBLE / ag.n_samples * 1000000) / 1000000
        |   AS silence_frac,
        |  floor(ag.n_clipped::DOUBLE / ag.n_samples * 1000000) / 1000000
        |   AS clip_frac,
        |  floor(sqrt(ag.sum_sq::DOUBLE / ag.n_samples) * 1000000) / 1000000
        |   AS rms_level
        | FROM ag JOIN lim ON lim.media_id = ag.media_id
        | ORDER BY lim.media_id""".stripMargin.replace("\n", " "),
    "mm_audio_fp" ->
      """WITH RECURSIVE lim AS (SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 2 AS INT) AS n_ch,
        |  CAST(256 + doc_id % 1024 AS BIGINT) AS n_samples,
        |  CAST((256 + doc_id % 1024) * (1 + doc_id % 2) AS BIGINT)
        |   AS total_s,
        |  CAST((256 + doc_id % 1024) * (1 + doc_id % 2) * 2 AS BIGINT)
        |   AS data_size
        | FROM documents),
        | chain(media_id, k, s) AS (
        |  SELECT media_id, 0, CAST(media_id AS UBIGINT) | 1 FROM lim
        |  UNION ALL
        |  SELECT c.media_id, c.k + 1,
        |   (SELECT xor(xor(b, b >> 7), CAST((CAST(xor(b, b >> 7) AS HUGEINT)
        |      * 131072) % 18446744073709551616 AS UBIGINT))
        |    FROM (SELECT xor(c.s, CAST((CAST(c.s AS HUGEINT) * 8192)
        |      % 18446744073709551616 AS UBIGINT)) AS b) AS t)
        |  FROM chain AS c JOIN lim ON lim.media_id = c.media_id
        |  WHERE c.k < lim.data_size),
        | bytes AS (SELECT media_id, k - 1 AS pos,
        |   CAST(s >> 56 AS BIGINT) AS b FROM chain WHERE k >= 1),
        | smp AS (SELECT media_id, pos // 2 AS k,
        |   sum(CASE WHEN pos % 2 = 0 THEN b ELSE 256 * b END) AS v_raw
        |  FROM bytes GROUP BY 1, 2),
        | sv AS (SELECT media_id, k,
        |   abs(CASE WHEN v_raw >= 32768 THEN v_raw - 65536 ELSE v_raw END)
        |    AS v FROM smp),
        | wins AS (SELECT sv.media_id, (sv.k * 64) // lim.total_s AS w,
        |   sum(sv.v) AS winsum
        |  FROM sv JOIN lim ON lim.media_id = sv.media_id GROUP BY 1, 2),
        | bits AS (SELECT media_id, w, winsum,
        |   sum(winsum) OVER (PARTITION BY media_id) AS total FROM wins),
        | fp AS (SELECT media_id,
        |   bit_or(CASE WHEN 64 * winsum >= total
        |     THEN CAST(1 AS UBIGINT) << CAST(w AS INT)
        |     ELSE CAST(0 AS UBIGINT) END) AS afp
        |  FROM bits GROUP BY media_id)
        | SELECT lim.media_id, lim.n_ch AS n_channels, lim.n_samples,
        |  lpad(lower(hex(fp.afp)), 16, '0') AS afp_hex
        | FROM fp JOIN lim ON lim.media_id = fp.media_id
        | ORDER BY lim.media_id""".stripMargin.replace("\n", " "),
    "mm_video_quality" ->
      """WITH RECURSIVE lim AS (SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 16 AS INT) AS w,
        |  CAST(8 + doc_id % 12 AS INT) AS h,
        |  CAST(4 + doc_id % 28 AS INT) AS n_frames,
        |  CAST((8 + doc_id % 16) * (8 + doc_id % 12) * 3 AS BIGINT) AS fs,
        |  least(CAST(4 + doc_id % 28 AS BIGINT),
        |   4096 // ((8 + doc_id % 16) * (8 + doc_id % 12) * 3))
        |   AS use_frames
        | FROM documents),
        | lim2 AS (SELECT *, use_frames * fs AS total_b FROM lim),
        | chain(media_id, k, s) AS (
        |  SELECT media_id, 0, CAST(media_id AS UBIGINT) | 1 FROM lim2
        |  UNION ALL
        |  SELECT c.media_id, c.k + 1,
        |   (SELECT xor(xor(b, b >> 7), CAST((CAST(xor(b, b >> 7) AS HUGEINT)
        |      * 131072) % 18446744073709551616 AS UBIGINT))
        |    FROM (SELECT xor(c.s, CAST((CAST(c.s AS HUGEINT) * 8192)
        |      % 18446744073709551616 AS UBIGINT)) AS b) AS t)
        |  FROM chain AS c JOIN lim2 ON lim2.media_id = c.media_id
        |  WHERE c.k < lim2.total_b),
        | bytes AS (SELECT media_id, k - 1 AS pos,
        |   CAST(s >> 56 AS BIGINT) AS b FROM chain WHERE k >= 1),
        | fsum AS (SELECT b.media_id, b.pos // lim2.fs AS f,
        |   sum(b.b) AS fs_sum
        |  FROM bytes AS b JOIN lim2 ON lim2.media_id = b.media_id
        |  GROUP BY 1, 2),
        | dl AS (SELECT media_id, f,
        |   abs(fs_sum - lag(fs_sum) OVER (PARTITION BY media_id
        |    ORDER BY f)) AS d FROM fsum),
        | ag AS (SELECT dl.media_id,
        |   CAST(coalesce(sum(dl.d), 0) AS BIGINT) AS sum_abs,
        |   CAST(coalesce(sum(CASE WHEN dl.d > 10 * lim2.fs
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS scene_changes
        |  FROM dl JOIN lim2 ON lim2.media_id = dl.media_id
        |  WHERE dl.d IS NOT NULL GROUP BY 1)
        | SELECT lim2.media_id, lim2.w AS width, lim2.h AS height,
        |  lim2.n_frames, lim2.use_frames AS frames_scored,
        |  CASE WHEN lim2.use_frames > 1 THEN
        |   floor(coalesce(ag.sum_abs, 0)::DOUBLE
        |    / ((lim2.use_frames - 1) * lim2.fs) * 1000000) / 1000000
        |  ELSE 0.0 END AS avg_delta,
        |  coalesce(ag.scene_changes, 0) AS scene_changes
        | FROM lim2 LEFT JOIN ag ON ag.media_id = lim2.media_id
        | ORDER BY lim2.media_id""".stripMargin.replace("\n", " "),
    "mm_video_fp" ->
      """WITH RECURSIVE lim AS (SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 16 AS INT) AS w,
        |  CAST(8 + doc_id % 12 AS INT) AS h,
        |  CAST(4 + doc_id % 28 AS INT) AS n_frames,
        |  least(CAST((8 + doc_id % 16) * (8 + doc_id % 12) * 3
        |    * (4 + doc_id % 28) AS BIGINT), 4096) AS total_b
        | FROM documents),
        | chain(media_id, k, s) AS (
        |  SELECT media_id, 0, CAST(media_id AS UBIGINT) | 1 FROM lim
        |  UNION ALL
        |  SELECT c.media_id, c.k + 1,
        |   (SELECT xor(xor(b, b >> 7), CAST((CAST(xor(b, b >> 7) AS HUGEINT)
        |      * 131072) % 18446744073709551616 AS UBIGINT))
        |    FROM (SELECT xor(c.s, CAST((CAST(c.s AS HUGEINT) * 8192)
        |      % 18446744073709551616 AS UBIGINT)) AS b) AS t)
        |  FROM chain AS c JOIN lim ON lim.media_id = c.media_id
        |  WHERE c.k < lim.total_b),
        | bytes AS (SELECT media_id, k - 1 AS pos,
        |   CAST(s >> 56 AS BIGINT) AS b FROM chain WHERE k >= 1),
        | wins AS (SELECT b.media_id, (b.pos * 64) // lim.total_b AS wn,
        |   sum(b.b) AS winsum
        |  FROM bytes AS b JOIN lim ON lim.media_id = b.media_id
        |  GROUP BY 1, 2),
        | bits AS (SELECT media_id, wn, winsum,
        |   sum(winsum) OVER (PARTITION BY media_id) AS total FROM wins),
        | fp AS (SELECT media_id,
        |   bit_or(CASE WHEN 64 * winsum >= total
        |     THEN CAST(1 AS UBIGINT) << CAST(wn AS INT)
        |     ELSE CAST(0 AS UBIGINT) END) AS vfp
        |  FROM bits GROUP BY media_id)
        | SELECT lim.media_id, lim.w AS width, lim.h AS height,
        |  lim.n_frames, lpad(lower(hex(fp.vfp)), 16, '0') AS vfp_hex
        | FROM fp JOIN lim ON lim.media_id = fp.media_id
        | ORDER BY lim.media_id""".stripMargin.replace("\n", " ")
  )
}
