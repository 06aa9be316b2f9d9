package graft.pipeline

import graft.Materialize.MatOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID, quality
  * scoring, token counting, fingerprinting. All pure column algebra
  * (codegen, shuffle-free per document) — at 100 TB these run as a
  * single map stage over the corpus.
  */
object TextAnalysis {

  /** Stopword profiles per language for the n-gram/stopword-ratio
    * language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "est", "que"),
    "es" -> Seq("el", "la", "los", "que", "de", "un", "es", "por"))

  private[pipeline] def words(c: Column): Column = split(lower(c), "\\s+")

  /** Pinned-count doc fan-out (graft.Tables.fan rationale) for the
    * n-gram explode paths: the interpreted transform lambdas are
    * many× the doc bytes in work, the documents scan is 1-2 splits
    * at test scale, and a key shuffle follows anyway; the identical
    * exchange subtree is REUSED across a function's branches
    * (ReusedExchange), so multi-consumer bases also stop re-scanning. */
  private def fanned(docs: DataFrame): DataFrame =
    graft.Tables.fan(docs, col("doc_id"))

  /** The composite quality score of [[quality]] as a bare column
    * expression over a `text` column — exposed so selection operators
    * (e.g. [[Corpus.budgetSelect]]) can evaluate it in the SAME map
    * stage as their other per-doc signals instead of joining the
    * quality frame back on doc_id (a pointless corpus-wide shuffle at
    * 100 TB). */
  private[graft] def qualityScoreCol(text: Column): Column = {
    val w = words(text)
    val nChars = length(text).cast("double")
    val allSw = stopwords.values.flatten.toSeq.distinct
    val swRatio = size(filter(w, x => allSw.map(s => x === s).reduce(_ || _)))
      .cast("double") / size(w).cast("double")
    val distinctRatio = size(array_distinct(w)).cast("double") / size(w).cast("double")
    val lenScore = least(nChars / lit(500.0), lit(1.0))
    round((lenScore + distinctRatio + least(swRatio * 4, lit(1.0))) / 3.0, 6)
  }

  /** BPE-ish token count of [[tokenCount]] as a bare column
    * expression — same single-map-stage composition rationale as
    * [[qualityScoreCol]]. */
  private[graft] def bpeTokensCol(text: Column): Column =
    aggregate(words(text), lit(0L),
      (acc, x) => acc + ceil(length(x).cast("double") / 4.0).cast("long"))

  /** Score for one language = fraction of words that are stopwords
    * of that language. */
  def langScore(c: Column, lang: String): Column = {
    val sw = stopwords(lang)
    val w = words(c)
    size(filter(w, x => sw.map(s => x === s).reduce(_ || _))).cast("double") /
      size(w).cast("double")
  }

  /** Language ID: argmax over language stopword scores; "und"
    * (undetermined) when every score is 0 (e.g. zh — no latin
    * stopwords). Deterministic tie-break: language order en,de,fr,es.
    */
  def languageId(docs: DataFrame): DataFrame = {
    val langs = Seq("en", "de", "fr", "es")
    val scored = langs.foldLeft(docs.select(col("doc_id"), col("lang"), col("text"))) {
      (d, l) => d.withColumn(s"score_$l", langScore(col("text"), l))
    }
    val best = langs.map(l => struct(col(s"score_$l").as("s"), lit(l).as("l")))
      .reduce((a, b) => when(b("s") > a("s"), b).otherwise(a))
    scored
      .withColumn("pred_lang", when(best("s") > 0, best("l")).otherwise(lit("und")))
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        round(greatest(langs.map(l => col(s"score_$l")): _*), 6).as("lang_score"))
  }

  /** Per-source declared-vs-predicted language audit — the metadata
    * trust check run before believing a feed's own `lang` tags (web
    * crawls routinely mislabel): for each source, how many docs the
    * stopword language-ID contradicts (predicted a DIFFERENT known
    * language) and how many it can't call at all (`und`). Same
    * single map stage as [[languageId]] followed by a sources-sized
    * hash aggregation — per-group state is three counters. */
  def langMismatch(docs: DataFrame): DataFrame = {
    val langs = Seq("en", "de", "fr", "es")
    val scored = langs.foldLeft(
      docs.select(col("source"), col("lang"), col("text"))) {
      (d, l) => d.withColumn(s"score_$l", langScore(col("text"), l))
    }
    val best = langs.map(l => struct(col(s"score_$l").as("s"), lit(l).as("l")))
      .reduce((a, b) => when(b("s") > a("s"), b).otherwise(a))
    scored
      .withColumn("pred_lang", when(best("s") > 0, best("l")).otherwise(lit("und")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred_lang") === "und", 1L).otherwise(0L)).as("n_und"),
        sum(when(col("pred_lang") =!= "und" &&
          col("pred_lang") =!= col("lang"), 1L).otherwise(0L)).as("n_mismatch"))
      .withColumn("mismatch_rate",
        round(col("n_mismatch").cast("double") / col("n_docs"), 6))
  }

  /** Declared×predicted language confusion matrix — the per-pair
    * view behind [[langMismatch]]'s per-source rates: one row per
    * (declared, predicted) combination with its count, the standard
    * eval artifact for any classifier and the fastest way to see
    * WHICH languages the stopword heuristic conflates (de/nl-style
    * confusions land off-diagonal; scripts with no latin stopwords
    * pile into the `und` column). Same single map stage, aggregation
    * keyed by ≤|langs|² pairs. */
  def langConfusion(docs: DataFrame): DataFrame = {
    val langs = Seq("en", "de", "fr", "es")
    val scored = langs.foldLeft(docs.select(col("lang"), col("text"))) {
      (d, l) => d.withColumn(s"score_$l", langScore(col("text"), l))
    }
    val best = langs.map(l => struct(col(s"score_$l").as("s"), lit(l).as("l")))
      .reduce((a, b) => when(b("s") > a("s"), b).otherwise(a))
    scored
      .withColumn("pred_lang", when(best("s") > 0, best("l")).otherwise(lit("und")))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  /** Quality scoring: length, punctuation ratio, stopword ratio,
    * repetition (distinct-word ratio); composite in [0,1]. */
  def quality(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val nChars = length(col("text")).cast("double")
    val punct = (nChars - length(regexp_replace(col("text"), "[.,;:!?]", ""))) / nChars
    val allSw = stopwords.values.flatten.toSeq.distinct
    val swRatio = size(filter(w, x => allSw.map(s => x === s).reduce(_ || _)))
      .cast("double") / size(w).cast("double")
    val distinctRatio = size(array_distinct(w)).cast("double") / size(w).cast("double")
    docs.select(
      col("doc_id"),
      size(w).cast("long").as("n_words"),
      round(punct, 6).as("punct_ratio"),
      round(swRatio, 6).as("stopword_ratio"),
      round(distinctRatio, 6).as("distinct_ratio"),
      qualityScoreCol(col("text")).as("quality_score"))
  }

  /** Token counting: whitespace tokens plus a BPE-ish subword
    * estimate (word-initial + ~4-chars-per-subword pieces, the
    * standard chars/4 heuristic refined by punctuation splits). */
  def tokenCount(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    docs.select(
      col("doc_id"),
      size(w).cast("long").as("ws_tokens"),
      // BPE-ish: every word costs ceil(len/4) pieces
      bpeTokensCol(col("text")).as("bpe_tokens"))
  }

  /** Gopher/Dolma-style repetition + shape quality signals (the
    * standard heuristic filter battery for web-scale corpora): mean
    * word length, duplicate-line fraction, symbol-to-word ratio,
    * bullet-line fraction, and the pass/fail flag with the classic
    * thresholds (3 ≤ mean word len ≤ 10, dup lines ≤ 0.3,
    * symbol ratio ≤ 0.1). Pure column algebra — one map stage. */
  def gopherQuality(docs: DataFrame): DataFrame = {
    val ws = col("ws")
    val lines = col("lines")
    val meanWordLen =
      aggregate(ws, lit(0L), (acc, x) => acc + length(x)).cast("double") /
        size(ws).cast("double")
    val dupLineFrac =
      (size(lines) - size(array_distinct(lines))).cast("double") /
        size(lines).cast("double")
    val symbolRatio =
      (length(col("text")) -
        length(regexp_replace(col("text"), "[#\\$%&@~\\^\\*]", "")))
        .cast("double") / size(ws).cast("double")
    val bulletFrac =
      size(filter(lines, l => l.rlike("^\\s*[-\\*•]"))).cast("double") /
        size(lines).cast("double")
    docs
      .select(col("doc_id"), col("text"),
        split(lower(col("text")), "\\s+").as("ws"),
        split(col("text"), "\n").as("lines"))
      .select(
        col("doc_id"),
        round(meanWordLen, 6).as("mean_word_len"),
        round(dupLineFrac, 6).as("dup_line_frac"),
        round(symbolRatio, 6).as("symbol_ratio"),
        round(bulletFrac, 6).as("bullet_frac"))
      .withColumn("gopher_pass",
        (col("mean_word_len") >= 3 && col("mean_word_len") <= 10 &&
          col("dup_line_frac") <= 0.3 && col("symbol_ratio") <= 0.1)
          .cast("int"))
  }

  /** PII scrubbing: redact email addresses and long digit runs
    * (phone/account numbers) — the standard privacy pass before
    * training. Conservative patterns chosen to behave identically
    * under Java regex and RE2. Emits the redacted text's md5 (not
    * the text — keeps outputs compact) plus per-kind hit counts. */
  def redactPii(docs: DataFrame): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
    val digitsRe = "[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+"
    val redacted =
      regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
        digitsRe, "<NUM>")
    docs.select(
      col("doc_id"),
      md5(redacted).as("redacted_md5"),
      size(split(col("text"), emailRe, -1)).cast("long").minus(1).as("email_hits"),
      size(split(col("text"), digitsRe, -1)).cast("long").minus(1).as("digit_hits"))
  }

  /** Document fingerprint: rolling 16-char window hashes sampled at
    * fixed stride (winnowing-style but deterministic stride so the
    * oracle can replay it); emits min hash per document — a compact
    * near-dup blocking key. */
  def fingerprint(docs: DataFrame, win: Int = 16, stride: Int = 8): DataFrame = {
    val n = length(col("text"))
    val starts = sequence(lit(1), greatest(n - win + 1, lit(1)), lit(stride))
    val grams = transform(starts, i => col("text").substr(i, lit(win)))
    val gramHashes = transform(grams, g => Dedup.md5Int(g))
    docs.select(
      col("doc_id"),
      array_min(gramHashes).as("fp_min"),
      array_max(gramHashes).as("fp_max"),
      size(gramHashes).cast("long").as("fp_n"))
  }

  /** Per-document n-gram novelty — the memorization-risk /
    * information-content signal used to rank training data: the
    * fraction of a document's distinct word-3-gram shingles that
    * appear in NO other document. Low novelty means the document is
    * mostly assembled from content repeated elsewhere in the corpus
    * (boilerplate, templates, near-dup fragments the pairwise dedup
    * family may not have clustered); high novelty marks unique text
    * worth up-weighting.
    *
    * Scale: starts from the shared hashed-shingle stage (one
    * explode+md5 pass per corpus, reused by the whole dedup family).
    * The key trick is join-free uniqueness: a shingle with
    * corpus-frequency 1 belongs to exactly one document, so
    * `min(doc_id)` inside the frequency aggregation IS that
    * document — novel counts come from re-aggregating the
    * frequency frame, never joining the corpus-sized shingle stream
    * against itself. Two hash aggregations + a per-doc join of two
    * doc-sized frames; nothing shuffles shingle strings. */
  def noveltyScore(docs: DataFrame): DataFrame = {
    val sh = Dedup.shingleHashes(docs)
      .select(col("doc_id"), col("h"), col("h_hi")).distinct()
    val per = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val novel = sh.groupBy("h", "h_hi")
      .agg(count(lit(1)).as("cf"), min("doc_id").as("doc_id"))
      .where(col("cf") === 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)) / col("n_shingles"), 6)
          .as("novelty"))
  }

  /** Top-k tf-idf keywords per document — the classic IR salience
    * op (keyword extraction, sparse retrieval features, dataset-card
    * topic summaries): tfidf = tf · ln(N ⁄ df), ranked per doc with
    * ties to the lexicographically first word.
    *
    * Scale: tf and df are hash aggregations over the exploded word
    * stream; N arrives as a one-row broadcast frame (no driver
    * collect); the rank windows per doc_id — the same distribution
    * the tf aggregation already produced. */
  def tfidfKeywords(docs: DataFrame, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = docs.select(col("doc_id"), explode(words(col("text"))).as("word"))
    // tf IS one row per distinct (doc, word): derive df from it —
    // the old form re-exploded the corpus a second time and paid a
    // distinct for rows tf already had (two scans → one); the lazy
    // checkpoint shares the tf build between df and the scoring join
    val tf = w.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .materialize(false)
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "word").crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
    // rank on the rounded score: exact ties (tf 1 at df n/9 against
    // tf 2 at df n/3) differ in the last ulp of ln between engines,
    // so the unrounded score would order tied words arbitrarily
    val rankW = Window.partitionBy("doc_id")
      .orderBy(col("tfidf_v").desc, col("word").asc)
    scored.withColumn("tfidf_v", round(col("tfidf"), 6))
      .withColumn("rk", row_number().over(rankW).cast("long"))
      .where(col("rk") <= topK)
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        col("tfidf_v"), col("rk"))
  }

  /** Unigram-LM cross-entropy per document — the perplexity quality
    * filter (CCNet/RedPajama style: score each document under a
    * language model trained on the corpus itself; low cross-entropy =
    * in-distribution text, high = noise/outliers). The LM is the
    * add-one-smoothed unigram MLE: p(w) = (c_w + 1) / (N + V) over
    * corpus word count N and vocab size V.
    *
    * Scale: two hash aggregations build the LM ((word, c) + a one-row
    * totals frame broadcast onto it); scoring is an equi-join of the
    * exploded word stream on `word` (AQE broadcasts the LM when the
    * vocab fits) followed by a per-doc hash aggregation. No window,
    * no driver state — at 100 TB the LM is itself a distributed
    * frame, never collected. */
  def unigramCrossEntropy(docs: DataFrame): DataFrame =
    unigramCrossEntropyWs(
      docs.select(col("doc_id"), words(col("text")).as("ws")))

  /** [[unigramCrossEntropy]] over a pre-split (doc_id, ws) frame.
    * (Materializing one shared tokenized frame for multi-LM
    * consumers was tried in r13 and regressed 1.7× — serializing the
    * word-array corpus costs more than re-splitting — so callers
    * pass an unmaterialized projection.) */
  private[pipeline] def unigramCrossEntropyWs(base: DataFrame): DataFrame = {
    // per-doc tf first (see bigramCrossEntropy): downstream stages run
    // over distinct (doc, word) rows, never the raw token stream
    val tfd = base.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      // LM build + scoring join both read the tf table: lazily
      // checkpoint so the corpus explode+count runs once per query
      // (the kn3Tables pattern)
      .materialize(false)
    val counts = tfd.groupBy("w").agg(sum("tf").as("c"))
    val totals = counts.agg(sum("c").as("n_total"), count(lit(1)).as("vocab"))
    val lm = counts.crossJoin(broadcast(totals))
      .select(col("w"),
        log((col("c") + 1).cast("double") /
          (col("n_total") + col("vocab")).cast("double")).as("logp"))
    tfd.join(lm, "w")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_words"),
        (sum(col("tf") * col("logp")) / sum("tf") * -1).as("xent"))
      .select(col("doc_id"), col("n_words"),
        round(col("xent"), 6).as("cross_entropy"),
        round(exp(col("xent")), 6).as("ppl"))
  }

  /** Bigram-LM cross-entropy per document — the conditional-LM form
    * of the perplexity filter: p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)
    * with context counts c(w1) summed from the bigram table and V the
    * corpus unigram vocab. Closer to CCNet's KenLM filter than the
    * unigram form: repetitive word soup scores well under a unigram LM
    * but poorly here unless the *transitions* are also typical.
    *
    * Scale: bigrams form MAP-SIDE — `transform(sequence(...))` over
    * the word array builds "w1 w2" strings with zero shuffle (no
    * self-join, no per-doc window); then the same
    * aggregate-join-aggregate shape as the unigram LM, all keyed by
    * bigram string. Documents with fewer than two words drop out (no
    * transitions to score). */
  def bigramCrossEntropy(docs: DataFrame): DataFrame =
    // project the word array ONCE before indexing into it: writing
    // element_at(split(text), i) inside the transform lambda would
    // re-split the document for every bigram element — O(n²) per doc
    // (measured 10× on the bench corpus)
    bigramCrossEntropyWs(
      fanned(docs).select(col("doc_id"), words(col("text")).as("ws")))

  /** [[bigramCrossEntropy]] over a pre-split (doc_id, ws) frame (see
    * [[unigramCrossEntropyWs]]); the vocab count also derives from
    * `ws`, so a shared caller tokenizes exactly once. */
  private[pipeline] def bigramCrossEntropyWs(base: DataFrame): DataFrame = {
    val n = size(col("ws"))
    val bigrams = when(n >= 2,
      transform(sequence(lit(1), n - 1),
        i => concat(element_at(col("ws"), i), lit(" "),
          element_at(col("ws"), i + 1))))
      .otherwise(array().cast("array<string>"))
    // per-doc tf first: every downstream stage (corpus counts, LM
    // join, final per-doc aggregation) then runs over DISTINCT
    // (doc, bigram) rows — the token-occurrence stream never crosses
    // a shuffle, and the groupBy partial-combines it map-side
    val tfd = base.select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
      // LM build + scoring join both read the tf table (kn3 pattern)
      .materialize(false)
    val c12 = tfd.groupBy("bg").agg(sum("tf").as("c12"))
      .materialize(false) // c1 + the LM projection both read it
    val c1 = c12.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("c12").as("c1"))
    val vocab = base.select(explode(col("ws")).as("w")).agg(
      count_distinct(col("w")).as("vocab"))
    val lm = c12.withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(c1, "w1").crossJoin(broadcast(vocab))
      .select(col("bg"),
        log((col("c12") + 1).cast("double") /
          (col("c1") + col("vocab")).cast("double")).as("logp"))
    tfd.join(lm, "bg")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        (sum(col("tf") * col("logp")) / sum("tf") * -1).as("xent"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("xent"), 6).as("cross_entropy"),
        round(exp(col("xent")), 6).as("ppl"))
  }

  /** Curation-signal correlation card — pairwise Pearson r between
    * the three primary per-doc quality signals (heuristic quality
    * score, unigram-LM cross-entropy, ln document length): the
    * redundancy audit a curation stack runs before stacking filters
    * (two signals at r ≈ ±1 gate the same documents twice; a
    * near-zero pair adds an independent axis). Signals are
    * pre-rounded per doc before the correlation so cross-engine
    * aggregation-order ulps never reach the card.
    *
    * Scale: the quality and length signals evaluate in the LM
    * scoring's own final projection (one join on doc_id against the
    * xent frame — both sides of the join are per-doc, co-keyed);
    * the card is a single aggregation row. */
  def signalCorrelation(docs: DataFrame): DataFrame = {
    val perDoc = docs.select(col("doc_id"),
      round(qualityScoreCol(col("text")), 6).as("q"),
      round(log(greatest(col("n_chars"), lit(1L)).cast("double")), 6)
        .as("len_ln"))
    val xent = unigramCrossEntropy(docs)
      .select(col("doc_id"), col("cross_entropy").as("x"))
    perDoc.join(xent, "doc_id").agg(
      count(lit(1)).as("n_docs"),
      round(corr(col("q"), col("x")), 6).as("r_quality_xent"),
      round(corr(col("q"), col("len_ln")), 6).as("r_quality_len"),
      round(corr(col("x"), col("len_ln")), 6).as("r_xent_len"))
  }

  /** Readability battery per document — Flesch Reading Ease and the
    * Automated Readability Index, the two classic shallow-parse
    * scores corpus-curation recipes bucket web text by (grade-level
    * stratification, child-directed-content detection). Syllables are
    * approximated by vowel-group count (`[aeiouy]+` runs), the
    * standard cheap estimator; sentences by terminal-punctuation runs
    * (`[.!?]+`), both floored at 1 so fragments score rather than
    * divide by zero.
    *
    *   flesch = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)
    *   ari    = 4.71·(C/W) + 0.5·(W/S) − 21.43   (C = alnum chars)
    *
    * Scale: pure per-row column algebra (three regexp_extract_all
    * counts + arithmetic) — one codegen'd map stage, no shuffle, no
    * joins; composes into the same stage as the other quality
    * signals. */
  def readability(docs: DataFrame): DataFrame = {
    val w = greatest(
      size(regexp_extract_all(lower(col("text")), lit("[^\\s]+"), lit(0))),
      lit(1)).cast("double")
    val s = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
      lit(1)).cast("double")
    val syl = greatest(
      size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))),
      lit(1)).cast("double")
    val chars = size(
      regexp_extract_all(col("text"), lit("[A-Za-z0-9]"), lit(0)))
      .cast("double")
    // floor-truncate at 1e-6 instead of round(…, 6): the score is a
    // ratio of small integers, which lands on exact .5 boundaries at
    // the 7th decimal often enough that Spark's shortest-string
    // HALF_UP and DuckDB's raw-double rounding disagree (seen on ari
    // at sf0.01); floor on the identical double has no halfway case
    val trunc6 = (c: Column) => floor(c * lit(1000000.0)) / lit(1000000.0)
    docs.select(col("doc_id"),
      w.cast("long").as("n_words"), s.cast("long").as("n_sents"),
      syl.cast("long").as("n_syllables"), chars.cast("long").as("n_chars"),
      trunc6(lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (syl / w))
        .as("flesch"),
      trunc6(lit(4.71) * (chars / w) + lit(0.5) * (w / s) - lit(21.43))
        .as("ari"))
  }

  /** Interpolated Kneser-Ney bigram-LM cross-entropy per document —
    * the smoother CCNet's actual KenLM filter uses (Kneser & Ney
    * 1995), next to [[bigramCrossEntropy]]'s add-one form. Absolute
    * discount D is taken off every seen bigram and the freed mass
    * backs off to the CONTINUATION unigram — how many distinct
    * contexts a word follows, not how often it occurs — so
    * high-count-single-context tokens (boilerplate, "Francisco")
    * stop inflating the backoff:
    *
    *   P(w2|w1) = max(c12 − D, 0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/T
    *
    * with N1+(w1·)/N1+(·w2) the distinct-successor/-predecessor type
    * counts and T the total number of distinct bigram types. Scoring
    * the training corpus itself means every scored bigram is seen, so
    * no unseen-context branch is needed.
    *
    * Scale: identical shape to [[bigramCrossEntropy]] — map-side
    * bigram formation over the pre-projected word array, then hash
    * aggregations on bigram/word keys; the type-count frames N1+ are
    * one extra `count(*)` on aggregations already present, and T is a
    * one-row broadcast. No window, no driver state.
    *
    * Reference anchor: the m3 quality path has no LM, this is a
    * training-data addition (CCNet §4.3 perplexity filtering). */
  def knBigramCrossEntropy(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    val base = fanned(docs).select(col("doc_id"), words(col("text")).as("ws"))
    val n = size(col("ws"))
    val bigrams = when(n >= 2,
      transform(sequence(lit(1), n - 1),
        i => concat(element_at(col("ws"), i), lit(" "),
          element_at(col("ws"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val tfd = base.select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
      // LM build + scoring join both read the tf table (kn3 pattern)
      .materialize(false)
    // one row per distinct bigram TYPE — so count(*) by w1 is exactly
    // N1+(w1·) and count(*) by w2 is N1+(·w2), for free next to the
    // token-count sums the discounted term needs; FOUR consumers
    // (fwd, bwd, types, the LM projection) read it — checkpoint
    val c12 = tfd.groupBy("bg").agg(sum("tf").as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .materialize(false)
    val fwd = c12.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n_fwd"))
    val bwd = c12.groupBy("w2").agg(count(lit(1)).as("n_bwd"))
    val types = c12.agg(count(lit(1)).as("t_types"))
    val d = lit(discount)
    val lm = c12.join(fwd, "w1").join(bwd, "w2")
      .crossJoin(broadcast(types))
      .select(col("bg"), log(
        greatest(col("c12") - d, lit(0.0)) / col("c1") +
          d * col("n_fwd") / col("c1") *
          (col("n_bwd").cast("double") / col("t_types"))).as("logp"))
    tfd.join(lm, "bg")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        (sum(col("tf") * col("logp")) / sum("tf") * -1).as("xent"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("xent"), 6).as("cross_entropy"),
        round(exp(col("xent")), 6).as("ppl"))
  }

  /** More-like-this sparse retrieval: every document whose `isQuery`
    * predicate holds retrieves its BM25 top-`topK` neighbors from the
    * corpus through the inverted-index join — the DAAT
    * (document-at-a-time) shape a distributed sparse retriever runs:
    * query terms equi-join the (doc, term, tf) posting frame, term
    * contributions aggregate per (query, candidate). Same Robertson
    * constants as [[bm25]] (k1=1.2, b=0.75); query terms are the
    * DISTINCT words of the query doc (query-side tf intentionally
    * unweighted — the classic MLT simplification).
    *
    * Determinism note: the per-pair score is a groupBy SUM of double
    * term contributions, whose order is engine-dependent — so the
    * rank orders by the ROUNDED score (exact duplicate docs produce
    * identical term multisets whose sums can differ in the last ulp
    * across engines/runs; rounding collapses them, doc_id breaks the
    * tie).
    *
    * Scale: postings and df are the tf aggregations the LM family
    * already runs; the candidate join is an equi-join on the term key
    * (never all-pairs — only docs sharing a term meet), and the final
    * aggregation is keyed (q_id, c_id). Per-query rank windows
    * partition by q_id. */
  def moreLikeThis(docs: DataFrame, isQuery: Column,
                   topK: Int = 20): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .materialize(true)
    val dl = docs.select(col("doc_id"),
      size(words(col("text"))).cast("long").as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val qt = tf.where(isQuery).select(col("doc_id").as("q_id"), col("w"))
    val terms = qt
      .join(tf.withColumnRenamed("doc_id", "c_id"), "w")
      .where(col("c_id") =!= col("q_id"))
      .join(df, "w")
      .join(dl.withColumnRenamed("doc_id", "c_id"), "c_id")
      .crossJoin(broadcast(st))
      .select(col("q_id"), col("c_id"),
        (log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl") / col("avgdl")))).as("term"))
    val sc = terms.groupBy("q_id", "c_id")
      .agg(round(sum("term"), 6).as("bm25_v"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("bm25_v").desc, col("c_id").asc)
    sc.withColumn("s_rk", row_number().over(w).cast("long"))
      .where(col("s_rk") <= topK)
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty 2001) — the language-model companion to
    * [[moreLikeThis]]'s BM25: rank candidates by
    * p(q|d) = Π_t p(t|d) with p(t|d) = (tf + μ·p(t|C)) / (dl + μ),
    * evaluated in the rank-equivalent sparse decomposition
    *
    *   score(q,d) = Σ_{t∈q, tf(t,d)>0} ln(1 + tf·N/(μ·ctf))
    *              + n_q · ln(μ / (dl + μ))
    *
    * so only posting-MATCHED (query, candidate) pairs ever meet in
    * the join — the absent-term background mass folds into the
    * per-candidate length term (the standard DAAT decomposition that
    * makes smoothed LM retrieval an inverted-index problem instead
    * of dense |Q|×|C| scoring). Query terms are the DISTINCT words
    * of each query doc (the MLT convention, query-side tf
    * unweighted); candidates must share ≥1 term — a zero-match doc
    * carries only background mass and is not retrieved (documented
    * divergence from the dense form, which could rank a very short
    * zero-match doc above a long matched one).
    *
    * Determinism: like [[moreLikeThis]], the per-pair score is a
    * double SUM whose order is engine-dependent, so the rank orders
    * by the ROUNDED score with c_id as tie-break.
    *
    * Scale: identical shape to [[moreLikeThis]] — postings/ctf are
    * corpus-vocabulary aggregations, the candidate join is an
    * equi-join on the term key, N is a one-row broadcast, and the
    * per-query rank windows partition by q_id. */
  def queryLikelihood(docs: DataFrame, isQuery: Column,
                      mu: Double = 2000.0, topK: Int = 20): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .materialize(true)
    val dl = docs.select(col("doc_id"),
      size(words(col("text"))).cast("long").as("dl"))
    val tot = tf.agg(sum("tf").as("n_tok"))
    val ctf = tf.groupBy("w").agg(sum("tf").as("ctf"))
    val qt = tf.where(isQuery).select(col("doc_id").as("q_id"), col("w"))
    val nq = qt.groupBy("q_id").agg(count(lit(1)).as("n_q"))
    val matched = qt
      .join(tf.withColumnRenamed("doc_id", "c_id"), "w")
      .where(col("c_id") =!= col("q_id"))
      .join(ctf, "w")
      .crossJoin(broadcast(tot))
      .select(col("q_id"), col("c_id"),
        log(lit(1.0) +
          (col("tf") * col("n_tok")) / (lit(mu) * col("ctf"))).as("term"))
    val sc = matched.groupBy("q_id", "c_id").agg(sum("term").as("m"))
      .join(dl.withColumnRenamed("doc_id", "c_id"), "c_id")
      .join(broadcast(nq), "q_id")
      .select(col("q_id"), col("c_id"),
        round(col("m") +
          col("n_q") * log(lit(mu) / (col("dl") + lit(mu))), 6).as("ql_v"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("ql_v").desc, col("c_id").asc)
    sc.withColumn("s_rk", row_number().over(w).cast("long"))
      .where(col("s_rk") <= topK)
  }

  /** Rocchio pseudo-relevance feedback — the query-EXPANSION stage
    * of the sparse-retrieval stack (Rocchio 1971; the "PRF" baseline
    * every IR system compares against): assume the BM25 top-`fbDocs`
    * of [[moreLikeThis]] are relevant, pool their terms, and emit
    * each query's top-`expandK` NEW terms by summed tf·ln(N/df)
    * weight — the expanded-query table a second retrieval pass
    * consumes (compose with [[bm25]]/[[moreLikeThis]] to rerun).
    * Terms already in the query are excluded (the expansion is the
    * delta, per the Rocchio β term with α handled by the original
    * query).
    *
    * Determinism: per-(query, term) weights are double sums → rank
    * by the ROUNDED weight, term string as tie-break.
    *
    * Scale: rides the existing MLT retrieval (posting equi-joins);
    * the feedback pool is queries × fbDocs rows joined back to the
    * tf frame on c_id; per-query rank windows partition by q_id. */
  def rocchioExpansion(docs: DataFrame, isQuery: Column,
                       fbDocs: Int = 10, expandK: Int = 5): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .materialize(true)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val fb = moreLikeThis(docs, isQuery, fbDocs)
      .select(col("q_id"), col("c_id"))
    val qTerms = tf.where(isQuery)
      .select(col("doc_id").as("q_id"), col("w"), lit(1).as("_in_q"))
    val pooled = fb
      .join(tf.withColumnRenamed("doc_id", "c_id"), "c_id")
      .join(df, "w")
      .crossJoin(broadcast(nDocs))
      .groupBy("q_id", "w")
      .agg(round(sum(col("tf") *
        log(col("n_docs").cast("double") / col("df"))), 6).as("weight"))
    val fresh = pooled.join(qTerms, Seq("q_id", "w"), "left_anti")
    val wR = Window.partitionBy("q_id")
      .orderBy(col("weight").desc, col("w").asc)
    fresh.withColumn("rk", row_number().over(wR).cast("long"))
      .where(col("rk") <= expandK)
      .select(col("q_id"), col("w").as("term"), col("weight"), col("rk"))
  }

  /** Sparse tf-idf cosine retrieval — the vector-space member of the
    * retrieval triple ([[moreLikeThis]] = probabilistic BM25,
    * [[queryLikelihood]] = smoothed LM, this = Salton's VSM): docs
    * become L2-normalized tf·ln(N/df) vectors over a df-PRUNED
    * vocabulary and rank by cosine. The pruning (terms in more than
    * `dfCapFrac` of docs are dropped from every vector) is part of
    * the operator's semantics, not an approximation knob: ultra-
    * common terms carry ~zero idf weight but dominate the posting
    * join's candidate volume — the classic stop-term economics of
    * inverted indexes.
    *
    * Determinism: dot products and norms are double SUMS (order
    * engine-dependent), so the cosine rounds to 6 before ranking,
    * c_id breaks ties.
    *
    * Scale: same DAAT shape as the other two retrievers — weights
    * are vocabulary-keyed aggregations, candidates meet on the term
    * equi-join (the df cap bounds each posting list to
    * dfCapFrac·N), norms join back per doc, rank windows per
    * query. */
  def sparseCosineTopK(docs: DataFrame, isQuery: Column, topK: Int = 20,
                       dfCapFrac: Double = 0.1): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .materialize(true)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val kept = tf.groupBy("w").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .where(col("df") <= col("n_docs") * lit(dfCapFrac))
    val wts = tf.join(kept, "w")
      .select(col("doc_id"), col("w"),
        (col("tf") * log(col("n_docs").cast("double") / col("df")))
          .as("wt"))
      .materialize(true)
    val norms = wts.groupBy("doc_id")
      .agg(sqrt(sum(col("wt") * col("wt"))).as("nrm"))
    val qw = wts.where(isQuery)
      .select(col("doc_id").as("q_id"), col("w"), col("wt").as("q_wt"))
    val dots = qw
      .join(wts.select(col("doc_id").as("c_id"), col("w"),
        col("wt").as("c_wt")), "w")
      .where(col("c_id") =!= col("q_id"))
      .groupBy("q_id", "c_id").agg(sum(col("q_wt") * col("c_wt")).as("dot"))
    val sc = dots
      .join(norms.select(col("doc_id").as("q_id"), col("nrm").as("q_nrm")),
        "q_id")
      .join(norms.select(col("doc_id").as("c_id"), col("nrm").as("c_nrm")),
        "c_id")
      .select(col("q_id"), col("c_id"),
        round(col("dot") / (col("q_nrm") * col("c_nrm")), 6).as("cos_v"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_v").desc, col("c_id").asc)
    sc.withColumn("s_rk", row_number().over(w).cast("long"))
      .where(col("s_rk") <= topK)
  }

  /** Top-k adjacent-bigram collocations by pointwise mutual
    * information — the classic phrase-mining signal (Church & Hanks
    * 1990; word2vec's phrase pass uses the same score):
    *
    *   pmi = ln( p(w1 w2) / (p(w1)·p(w2)) )
    *
    * with p() as token frequencies over the corpus and a `minCount`
    * floor on the joint count so one-off juxtapositions of two rare
    * words (which maximize PMI trivially) never surface.
    *
    * Scale: bigram and unigram counts are the same two hash
    * aggregations the LM family runs (map-side bigram formation, no
    * position self-join); the unigram frame joins back TWICE on the
    * bigram's split halves — both equi-joins on word keys, AQE
    * broadcasts when the vocab fits; totals are one-row broadcasts.
    * The score stays in ratio form (c/B over c/N products), never
    * integer products that would overflow at corpus scale. Top-k is
    * TakeOrdered — no full sort, rank window only over the k
    * survivors. */
  def pmiCollocations(docs: DataFrame, minCount: Int = 5,
                      topK: Int = 20): DataFrame = {
    val base = fanned(docs).select(col("doc_id"), words(col("text")).as("ws"))
    val n = size(col("ws"))
    val bigrams = when(n >= 2,
      transform(sequence(lit(1), n - 1),
        i => concat(element_at(col("ws"), i), lit(" "),
          element_at(col("ws"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val c12 = base.select(explode(bigrams).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
    val uni = docs.select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nTot = uni.agg(sum("c").as("n_tok"))
    val bTot = c12.agg(sum("c12").as("n_bg"))
    val scored = c12.where(col("c12") >= minCount)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(bTot))
      .select(col("bg").as("bigram"), col("c12"), col("c1"), col("c2"),
        log(col("c12").cast("double") / col("n_bg") /
          (col("c1").cast("double") / col("n_tok")) /
          (col("c2").cast("double") / col("n_tok"))).as("pmi"))
    val top = scored.orderBy(col("pmi").desc, col("bigram").asc).limit(topK)
    val rkW = Window.orderBy(col("pmi").desc, col("bigram").asc) // ≤topK rows
    top.select(col("bigram"), col("c12"), col("c1"), col("c2"),
      round(col("pmi"), 6).as("pmi_v"),
      row_number().over(rkW).cast("long").as("rk"))
      .orderBy("rk")
  }

  /** BM25 scoring against a fixed query term set — the sparse
    * retrieval primitive (dataset search, decontamination probes,
    * relevance-weighted sampling). Standard Robertson/Lucene form:
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), tf saturation k1,
    * length normalization b against the mean document length.
    *
    * Scale: per-term tf and dl compute map-side from the word array
    * (no explode — the query term set is tiny and fixed); corpus
    * stats (N, avgdl, per-term df) reduce to ONE row broadcast back;
    * scoring is another map stage. Two stages total, one tiny
    * broadcast — no shuffle proportional to the corpus. */
  def bm25(docs: DataFrame, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct, "terms must be distinct")
    val ws = words(col("text"))
    val base = docs.select(
      col("doc_id") +: size(ws).cast("long").as("dl") +:
        terms.map(t => size(filter(ws, _ === t)).cast("long").as(s"tf_$t")): _*)
    val statCols = count(lit(1)).as("n_docs") +: avg("dl").as("avgdl") +:
      terms.map(t => sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val score = terms.map { t =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5))
      idf * (col(s"tf_$t") * (k1 + 1)) /
        (col(s"tf_$t") + (col("dl") / col("avgdl") * b + (1 - b)) * k1)
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .where(terms.map(t => col(s"tf_$t")).reduce(_ + _) > 0)
      .select(col("doc_id") +: col("dl") +:
        terms.map(t => col(s"tf_$t")) :+ round(score, 6).as("bm25_v"): _*)
  }

  /** C4-style heuristic filter battery (Raffel et al.): sentence
    * count via terminal-punctuation splits, mean words per sentence,
    * curly-brace / lorem-ipsum / policy-boilerplate flags, and a
    * composite pass. On the synthetic corpus (punctuation-free word
    * soup) the phrase flags are identically 0 and every doc is one
    * "sentence" — the columns are kept faithful to the published
    * rules anyway; the composite gates on the signals that do vary
    * here (word count + flags), with the sentence-count gate exposed
    * as its own column. One map stage, shuffle-free. */
  def c4Filters(docs: DataFrame, minWords: Int = 50): DataFrame = {
    val low = lower(col("text"))
    val w = words(col("text"))
    val sentences = filter(split(col("text"), "[.!?]"),
      s => length(trim(s)) > 0)
    val hasPhrase = Seq("lorem ipsum", "javascript", "cookie",
      "privacy policy", "terms of use")
      .map(p => low.contains(p)).reduce(_ || _)
    docs.select(
      col("doc_id"),
      size(w).cast("long").as("n_words"),
      size(sentences).cast("long").as("n_sentences"),
      round(size(w).cast("double") / size(sentences).cast("double"), 6)
        .as("words_per_sentence"),
      col("text").contains("{").cast("int").as("has_brace"),
      hasPhrase.cast("int").as("has_bad_phrase"))
      .withColumn("c4_pass",
        (col("n_words") >= minWords && col("has_brace") === 0 &&
          col("has_bad_phrase") === 0).cast("int"))
  }

  /** BPE merge-pair statistics — the first round of byte-pair-encoding
    * tokenizer training: count adjacent character pairs across the
    * corpus and rank them (the top pair is the first merge a BPE
    * trainer would perform). Uses the standard trick of counting over
    * DISTINCT words weighted by word frequency, so the pair stage
    * scales with vocabulary, not corpus size.
    *
    * Scale: word-frequency hash aggregation (map-side combining over
    * the token stream) → pair formation map-side over the distinct
    * vocab (substr over a projected word column — no re-splitting) →
    * pair hash aggregation → global top-N via TakeOrdered; the rank
    * windows only the N surviving rows. */
  def bpePairStats(docs: DataFrame, topN: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wf = docs.select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
    val pairs = when(length(col("word")) >= 2,
      transform(sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
    wf.select(col("wc"), explode(pairs).as("pair"))
      .groupBy("pair").agg(sum("wc").as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair").asc).limit(topN)
      .withColumn("rank",
        row_number().over(
          Window.orderBy(col("pair_count").desc, col("pair").asc))
          .cast("long"))
  }

  /** Multi-round BPE tokenizer training — the real iterative form of
    * [[bpePairStats]] (which reports only the first round's pair
    * table): `rounds` greedy merges, each picking the corpus's most
    * frequent adjacent symbol pair (frequency-weighted over the
    * distinct-word vocabulary, ties to lexicographic pair order) and
    * rewriting the vocabulary before the next count. Emits the merge
    * table — (round, sym_a, sym_b, merged, pair_freq) — which IS the
    * trained tokenizer artifact BPE implementations ship.
    *
    * Symbol sequences are encoded as strings with every symbol
    * owning its delimiters (` a  b ` → merge = one literal
    * `replace`), so the left-to-right non-overlapping scan of both
    * engines' replace() reproduces BPE's greedy merge exactly —
    * including the `aaa → (aa)a` overlap convention — and the
    * DuckDB oracle replays all rounds bit-for-bit.
    *
    * Scale: every round is one map stage + one pair aggregation over
    * the VOCABULARY (distinct words × freq — corpus text is touched
    * once, at vocabulary build), a one-row driver collect of the
    * winning pair (same bounded pattern as the IVF/PQ seeds), and a
    * checkpointed rewrite so plans stay flat across rounds. */
  def bpeTrain(docs: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMerges(docsWordFreq(docs), rounds)
      .toDF("round", "sym_a", "sym_b", "merged", "pair_freq")
      .orderBy("round")
  }

  /** The distinct word-frequency table the tokenizer trainers count
    * over — (w, freq). [[Corpus.tokenizerFertility]] shares ONE
    * checkpointed copy of this frame between both trainers. */
  private[pipeline] def docsWordFreq(docs: DataFrame): DataFrame =
    docs
      .select(explode(words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** The BPE merge loop proper over a (w, freq) word table — the
    * collected merge table is the bounded trained artifact. Factored
    * from [[bpeTrain]] so the fertility card can train over a SHARED
    * word-frequency frame instead of re-exploding the corpus. */
  private[pipeline] def bpeMerges(wordFreq: DataFrame, rounds: Int)
      : Seq[(Long, String, String, String, Long)] = {
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    var vocab = wordFreq
      .select(col("freq"),
        concat(lit(" "), concat_ws("  ", chars), lit(" ")).as("repr"))
      .materialize(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var round = 1
    var done = false
    while (round <= rounds && !done) {
      val syms = split(trim(col("repr")), "  ")
      val top = vocab
        .select(col("freq"), syms.as("syms"))
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(0), size(col("syms")) - 2),
            i => struct(element_at(col("syms"), i + 1).as("a"),
              element_at(col("syms"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a"), col("p.b")).agg(sum("freq").as("pfreq"))
        .orderBy(col("pfreq").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getAs[String]("a"), top(0).getAs[String]("b"))
        val pf = top(0).getAs[Long]("pfreq")
        merges += ((round.toLong, a, b, a + b, pf))
        // LAZY checkpoint: still truncates the plan (flat across
        // rounds), but the rewrite materializes inside the NEXT
        // round's collect instead of as its own job — and the last
        // round's rewrite, which nothing reads, never runs at all
        vocab = vocab.withColumn("repr",
          replace(col("repr"), lit(s" $a  $b "), lit(s" $a$b ")))
          .materialize(false)
        round += 1
      }
    }
    merges.toSeq
  }

  /** Multi-round WordPiece tokenizer training — the third trained
    * tokenizer beside [[bpeTrain]] and the unigram trainer: same
    * greedy merge loop and delimiter-owning vocabulary rewrite as
    * BPE, but each round's winner maximizes the LIKELIHOOD score
    *
    *   score(a,b) = count(ab) / (count(a) · count(b))
    *
    * (Schuster & Nakajima 2012; the BERT tokenizer's training rule)
    * instead of raw pair frequency — a pair of rare symbols that
    * almost always co-occur merges before a frequent-but-independent
    * pair. Symbol counts are frequency-weighted over the current
    * vocabulary, recomputed each round. Ties break lexicographic on
    * (a, b); the score divides EXACT integer counts as doubles, so
    * both engines compute bit-identical keys (the `##` continuation
    * prefix is a presentation detail of shipped vocab files, not of
    * the merge table). Emits (round, sym_a, sym_b, merged,
    * pair_freq, score_v).
    *
    * Scale: as [[bpeTrain]] — per round one symbol-count aggregation
    * and one pair aggregation over the distinct-word vocabulary
    * (corpus text touched once, at vocabulary build), a one-row
    * driver collect (the artifact), checkpointed rewrite. count(a)
    * and count(b) multiply as doubles: at corpus scale their long
    * product would overflow. */
  def wordpieceTrain(docs: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    var vocab = docs
      .select(explode(words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(lit(" "), concat_ws("  ", chars), lit(" ")).as("repr"))
      .materialize(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long, Double)]
    var round = 1
    var done = false
    while (round <= rounds && !done) {
      val syms = split(trim(col("repr")), "  ")
      val base = vocab.select(col("freq"), syms.as("syms"))
      val symCount = base
        .select(col("freq"), explode(col("syms")).as("s"))
        .groupBy("s").agg(sum("freq").as("c"))
      val top = base
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(0), size(col("syms")) - 2),
            i => struct(element_at(col("syms"), i + 1).as("a"),
              element_at(col("syms"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a"), col("p.b")).agg(sum("freq").as("pfreq"))
        .join(symCount.select(col("s").as("a"), col("c").as("ca")), "a")
        .join(symCount.select(col("s").as("b"), col("c").as("cb")), "b")
        .withColumn("score", col("pfreq").cast("double") /
          (col("ca").cast("double") * col("cb").cast("double")))
        .orderBy(col("score").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getAs[String]("a"), top(0).getAs[String]("b"))
        merges += ((round.toLong, a, b, a + b,
          top(0).getAs[Long]("pfreq"), top(0).getAs[Double]("score")))
        // lazy checkpoint — see bpeTrain: flat plans, no per-round
        // materialization job, final unused rewrite never runs
        vocab = vocab.withColumn("repr",
          replace(col("repr"), lit(s" $a  $b "), lit(s" $a$b ")))
          .materialize(false)
        round += 1
      }
    }
    import spark.implicits._
    merges.toSeq
      .toDF("round", "sym_a", "sym_b", "merged", "pair_freq", "score_raw")
      .select(col("round"), col("sym_a"), col("sym_b"), col("merged"),
        col("pair_freq"),
        org.apache.spark.sql.functions.round(col("score_raw"), 9)
          .as("score_v"))
      .orderBy("round")
  }

  /** BPE tokenizer APPLICATION — the encode side completing
    * [[bpeTrain]]: the trained merge table (collected — ≤rounds rows,
    * the shipped artifact) applies to every word as the same ordered
    * sequence of delimiter-owning string replaces the trainer used,
    * and the per-doc token count is what the corpus costs under the
    * TRAINED tokenizer (vs the chars/4 heuristic of [[tokenCount]]).
    *
    * Scale: training cost as in [[bpeTrain]]; encoding is one
    * explode + a map-stage replace chain (rounds literal replaces)
    * + one per-doc aggregation — the merge table rides the plan as
    * literals, no join. */
  def bpeEncode(docs: DataFrame, rounds: Int = 8): DataFrame = {
    val merges = bpeMerges(docsWordFreq(docs), rounds)
      .sortBy(_._1).map(t => (t._2, t._3))
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    val repr0 = concat(lit(" "), concat_ws("  ", chars), lit(" "))
    val reprN = merges.foldLeft(repr0) { case (c, (a, b)) =>
      replace(c, lit(s" $a  $b "), lit(s" $a$b "))
    }
    docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .select(col("doc_id"),
        size(split(trim(reprN), "  ")).cast("long").as("k"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("k").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Unigram entropy per document — the information-density quality
    * signal (near-zero for boilerplate/repetition, ln(vocab) for
    * maximally varied text; used alongside the Gopher shape filters
    * to catch low-entropy spam that passes length checks). Computed
    * as H = ln n − (Σ c·ln c)/n over per-word counts c, so one pass
    * of aggregation suffices — no per-doc probability vector is
    * materialized.
    *
    * Scale: explode + two hash aggregations — (doc_id, word) then
    * doc_id, both map-side-combining; no window, no driver state. */
  def unigramEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"), count(lit(1)).as("distinct_words"),
        (log(sum("c").cast("double")) -
          sum(col("c").cast("double") * log(col("c").cast("double"))) /
            sum("c").cast("double")).as("ent"))
      .select(col("doc_id"), col("n_words"), col("distinct_words"),
        round(col("ent"), 6).as("entropy"))

  /** Deterministic hashed-feature weight vector — the model shape a
    * fastText-style linear quality classifier trains (hashing-trick
    * bag of words; the "quality classifier" filter of Brown et al.
    * 2020 §A / the CCNet+fastText stack, restated). Weights here
    * derive from md5(seed‖bucket) so both engines can rebuild the
    * identical model; a TRAINED vector drops in unchanged — the
    * hashing, scoring and plan shape are the production pieces. */
  def classifierWeights(dim: Int = 256, seed: String = "w"): Seq[Double] =
    (0 until dim).map { i =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest((seed + i).getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 1000000L) / 1e6 - 0.5
    }

  /** Linear quality classifier over hashed token features:
    * bucket(t) = md5₃₂(t) mod dim, raw = mean bucket weight over
    * the token stream (duplicates count), score = σ(raw),
    * keep = raw ≥ 0.
    *
    * Scale: the model ships as a LITERAL array in the plan (the
    * broadcast-as-literal rewrite the LSH planes use) and scoring
    * is one hash + one array index per token inside a sequential
    * fold — a single codegen map stage: no explode, no join, no
    * shuffle, nothing per-token ever leaves the task. */
  /** The classifier's raw mean-bucket-weight score as a bare column
    * over `text` — shared by [[qualityClassifier]] and
    * [[calibration]] so the scored probability cannot drift between
    * the scorer and its calibration audit. */
  private[graft] def classifierRaw(text: Column, dim: Int = 256): Column = {
    val w = typedLit(classifierWeights(dim))
    val bucket = (t: Column) =>
      (conv(substring(md5(t), 1, 8), 16, 10).cast("long") % dim + 1).cast("int")
    aggregate(words(text), lit(0.0),
      (acc, t) => acc + element_at(w, bucket(t))) /
      size(words(text)).cast("double")
  }

  def qualityClassifier(docs: DataFrame, dim: Int = 256): DataFrame = {
    val raw = classifierRaw(col("text"), dim)
    docs.select(col("doc_id"),
      size(words(col("text"))).cast("long").as("n_tokens"),
      round(lit(1.0) / (lit(1.0) + exp(-raw)), 6).as("quality_score"),
      (raw >= 0).cast("int").as("keep"))
  }

  /** Reliability diagram + expected calibration error for the quality
    * classifier against a boolean `label` teacher signal — the audit
    * every trained-filter deployment runs before trusting scores as
    * probabilities (Guo et al. 2017's ECE): predictions bucket into
    * `bins` equal-width confidence bins; per bin the mean confidence
    * is compared to the empirical positive rate, and
    * ECE = Σ_b n_b/N · |acc_b − conf_b| rides along on every row.
    *
    * Scale: scoring is the classifier's one codegen map stage (the
    * label is evaluated in the SAME stage — no join back on doc_id);
    * the aggregation is keyed by ≤`bins` buckets, and the ECE rollup
    * is a one-row broadcast over the bins frame. */
  def calibration(docs: DataFrame, label: Column,
                  bins: Int = 10, dim: Int = 256): DataFrame = {
    val conf = round(
      lit(1.0) / (lit(1.0) + exp(-classifierRaw(col("text"), dim))), 6)
    val binned = docs.select(
      least(floor(conf * bins), lit(bins - 1)).cast("int").as("bin"),
      conf.as("conf"), label.cast("int").as("y"))
    val per = binned.groupBy("bin").agg(count(lit(1)).as("n"),
      avg("conf").as("conf_raw"), avg("y").as("acc_raw"))
    val tot = per.agg(sum("n").as("n_tot"),
      sum(abs(col("conf_raw") - col("acc_raw")) * col("n")).as("wsum"))
    per.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"),
        round(col("conf_raw"), 6).as("mean_conf"),
        round(col("acc_raw"), 6).as("pos_rate"),
        round(abs(col("conf_raw") - col("acc_raw")), 6).as("gap"),
        round(col("wsum") / col("n_tot"), 6).as("ece"))
      .orderBy("bin")
  }

  /** Held-out evaluation card for the quality classifier — the
    * companion [[calibration]] answers "are the scores honest
    * probabilities", this answers "does the ranking discriminate":
    * on the deterministic md5 test split (doc_id % `testMod` == 0,
    * the [[graft.pipeline.Corpus]] split convention, so train-side
    * tooling can hold the same docs out), one row with the 0.5
    * confusion counts, accuracy / precision / recall / F1, and
    * rank-sum ROC-AUC with proper tie handling:
    *
    *   AUC = (Σ_pos avgRank − P(P+1)/2) / (P·N)
    *
    * computed over the DISTINCT-score frame in 2×-scaled integer
    * arithmetic (rank2 = 2·cumBefore + cnt + 1, so tie midpoints
    * never touch floats) — both engines divide the same integers.
    *
    * Scale: scoring is the classifier's one codegen map stage; the
    * AUC frame is keyed by distinct ROUNDED scores, ≤ 1e6+1 rows by
    * construction (6-decimal sigmoid), so the running-count window
    * is over a bounded frame (constant partition key pins it); the
    * confusion counts are one aggregation. Degenerate splits (P=0 or
    * N=0) yield NULL auc/precision/recall rather than a division
    * error. */
  def classifierEval(docs: DataFrame, label: Column = col("lang") === "en",
                     dim: Int = 256, testMod: Int = 5): DataFrame = {
    val conf = round(
      lit(1.0) / (lit(1.0) + exp(-classifierRaw(col("text"), dim))), 6)
    val test = docs
      .where(conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long") % testMod === 0)
      .select(conf.as("s"), label.cast("long").as("y"))
    val byScore = test.groupBy("s")
      .agg(count(lit(1)).as("c"), sum("y").as("p"))
    val w = Window.partitionBy(lit(1)).orderBy("s") // bounded ≤1e6+1 rows
      .rowsBetween(Window.unboundedPreceding, -1)
    val rankSum = byScore
      .withColumn("cb", coalesce(sum("c").over(w), lit(0L)))
      .agg(sum(col("p") * (lit(2L) * col("cb") + col("c") + 1L))
        .as("sum2"))
    val conf05 = test.agg(
      count(lit(1)).as("n_test"), sum("y").as("pos"),
      sum((col("s") >= 0.5 && col("y") === 1L).cast("long")).as("tp"),
      sum((col("s") >= 0.5 && col("y") === 0L).cast("long")).as("fp"),
      sum((col("s") < 0.5 && col("y") === 0L).cast("long")).as("tn"),
      sum((col("s") < 0.5 && col("y") === 1L).cast("long")).as("fn"))
    val neg = col("n_test") - col("pos")
    conf05.crossJoin(broadcast(rankSum))
      .select(col("n_test"), col("pos"), neg.as("neg"),
        col("tp"), col("fp"), col("tn"), col("fn"),
        round((col("tp") + col("tn")) / col("n_test").cast("double"), 6)
          .as("accuracy"),
        round(when(col("tp") + col("fp") > 0,
          col("tp") / (col("tp") + col("fp")).cast("double")), 6)
          .as("prec"),
        round(when(col("pos") > 0,
          col("tp") / col("pos").cast("double")), 6).as("recall"),
        round(when(col("tp") * 2 + col("fp") + col("fn") > 0,
          col("tp") * 2 / (col("tp") * 2 + col("fp") + col("fn"))
            .cast("double")), 6).as("f1"),
        round(when(col("pos") > 0 && neg > 0,
          (col("sum2") - col("pos") * (col("pos") + 1))
            .cast("double") / (lit(2.0) * col("pos") * neg)), 6)
          .as("auc"))
  }

  /** Logistic-regression classifier TRAINING over hashing-trick
    * bag-of-words features — the trained form of
    * [[qualityClassifier]] (which ships a fixed weight vector), and
    * the loop behind every fastText-style quality/language filter in
    * production curation stacks: full-batch gradient descent,
    * `rounds` epochs, on features x_j = (tokens hashing to bucket j)
    * / n_tokens and any boolean `label` column expression (default
    * lang = 'en'; in practice the teacher signal is a heuristic gate
    * or LLM judgment being distilled). Emits the trained weight
    * vector as (j, weight) rows — the shippable artifact
    * [[qualityClassifier]] plugs in unchanged. On THIS corpus the
    * default task is at-prior by construction (the lang tags are
    * metadata uncorrelated with the word-salad text — the trainer
    * correctly converges toward the prior), so the oracle gate
    * exercises the numerical replay while the spec proves learning
    * on a separable planted set.
    *
    * Round 1 is exp-free by construction (w₀ = 0 ⇒ every p = 0.5),
    * and the DuckDB oracle replays all rounds unrolled; cross-engine
    * float drift stays orders of magnitude under the 6-decimal
    * output rounding for this depth.
    *
    * Scale: the sparse feature frame builds in one explode +
    * map-side-combining aggregation and is materialized once
    * (bounded by docs × distinct buckets ≤ docs·dim); each round is
    * one broadcast-literal scoring aggregation + one ≤dim-row
    * gradient collect (the same bounded driver pattern as the BPE
    * trainer and the IVF seeds) — corpus text is touched once. */
  def trainClassifier(docs: DataFrame, dim: Int = 64, rounds: Int = 3,
                      lr: Double = 1.0,
                      label: Column = col("lang") === "en"): DataFrame = {
    val spark = docs.sparkSession
    val (w, _) = trainedWeights(docs, dim, rounds, lr, label)
    import spark.implicits._
    // HALF_UP to match both engines' round-half-away-from-zero
    w.toSeq.zipWithIndex.map { case (v, j) =>
      (j, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("j", "weight").orderBy("j")
  }

  /** The GD loop proper: returns the RAW trained weights plus the
    * checkpointed feature frame, so a scoring caller
    * ([[pruningScores]]) reuses the features instead of re-exploding
    * the corpus. `extraCols` ride the feature key (functionally
    * dependent on doc_id — e.g. `source` — so training math is
    * unchanged). */
  private def trainedWeights(docs: DataFrame, dim: Int, rounds: Int,
                             lr: Double, label: Column,
                             extraCols: Seq[String] = Nil)
      : (Array[Double], DataFrame) = {
    val bucket = (t: Column) =>
      (conv(substring(md5(t), 1, 8), 16, 10).cast("long") % dim).cast("int")
    val base = docs.select(col("doc_id") +: extraCols.map(col) :+
      label.cast("double").as("y") :+ words(col("text")).as("ws"): _*)
    val keyCols = Seq(col("doc_id")) ++ extraCols.map(col) :+ col("y")
    val feats = base
      .select(keyCols :+ size(col("ws")).cast("double").as("n") :+
        explode(col("ws")).as("t"): _*)
      .groupBy(keyCols :+ col("n") :+ bucket(col("t")).as("j"): _*)
      .agg(count(lit(1)).as("c"))
      .select(keyCols :+ col("j") :+
        (col("c").cast("double") / col("n")).as("x"): _*)
      .materialize(true)
    val nDocs = docs.count().toDouble
    val w = Array.fill(dim)(0.0)
    for (_ <- 1 to rounds) {
      val wl = typedlit(w.toSeq)
      val p = feats
        .groupBy("doc_id", "y")
        .agg(sum(col("x") * element_at(wl, col("j") + 1)).as("z"))
        .select(col("doc_id"),
          (lit(1.0) / (lit(1.0) + exp(-col("z")))).as("p"))
      val grad = feats.join(p, "doc_id")
        .groupBy("j").agg(sum(col("x") * (col("p") - col("y"))).as("g"))
        .collect()
      grad.foreach { r =>
        val j = r.getAs[Int]("j")
        w(j) -= lr * r.getAs[Double]("g") / nDocs
      }
    }
    (w, feats)
  }

  /** EL2N-style data-pruning scores (Paul et al. 2021, "Deep
    * Learning on a Data Diet", restated for the engine's hashed
    * linear classifier): after [[trainClassifier]]'s logistic GD,
    * each doc's error norm |p − y| IS the pruning signal — examples
    * the model already fits (score ≈ 0) teach little, the hardest
    * tail is disproportionately label noise; curation keeps the
    * middle. Emits the per-(source, score-decile) census a pruning
    * decision reads. Scores are computed from the ROUNDED published
    * weights and deciles cut on the ROUNDED score (floor(round·10)),
    * so both engines bucket identical keys.
    *
    * Scale: training is [[trainClassifier]] (bounded ≤dim driver
    * state); scoring is one feature explode + hash agg per doc with
    * the dim-entry weight vector broadcast as a literal — no joins,
    * no windows. */
  def pruningScores(docs: DataFrame, dim: Int = 64, rounds: Int = 3,
                    label: Column = col("lang") === "en"): DataFrame = {
    // train with `source` riding the feature key: the checkpointed
    // training features then serve the scoring pass too — the
    // corpus text is exploded ONCE for train + score
    val (wRaw, feats) = trainedWeights(docs, dim, rounds, lr = 1.0,
      label = label, extraCols = Seq("source"))
    // score with the ROUNDED published weights, exactly as before
    val w = wRaw.map(v =>
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val wl = typedlit(w.toSeq)
    val el2n = abs(lit(1.0) / (lit(1.0) + exp(-col("z"))) - col("y"))
    // integer micro-units: exact cross-engine sums regardless of
    // per-group addition order (a rounded-double avg split a midpoint)
    feats
      .groupBy("doc_id", "source", "y")
      .agg(sum(col("x") * element_at(wl, col("j") + 1)).as("z"))
      .select(col("source"),
        round(el2n * 1000000, 0).cast("long").as("e6"))
      .withColumn("bucket",
        least(floor(col("e6") / 100000).cast("long"), lit(9L)))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n"),
        // floor-trunc, not round: sum(e6)/n lands on exact .5 micro
        // midpoints (integer sums over even n), which the engines'
        // different round() implementations split — floor of the
        // identical quotient double cannot (madFrame discipline)
        (floor(sum("e6").cast("double") / count(lit(1))) / 1000000.0)
          .as("avg_el2n"))
      .orderBy("source", "bucket")
  }

  /** Gopher repetition signals (Rae et al. 2021 §A1.1, restated):
    * the fraction of word characters covered by the single most
    * frequent bigram, and by all trigrams that occur more than once.
    * Occurrence-weighted — overlapping occurrences each count, so a
    * pathologically repetitive doc can exceed 1.0; that is the
    * thresholding convention web-corpus filters use (the classic
    * cuts: top-2-gram ≤ 0.20, dup-3-gram ≤ 0.18). Complements
    * [[gopherQuality]]'s duplicate-line fraction.
    *
    * Scale: explode → per-(doc, ngram) counts (hash agg with
    * map-side partial combine) → per-doc top-1 window / sum, all
    * keyed by doc_id — no corpus-wide state, no broadcast, and the
    * ngram stream never crosses a shuffle un-aggregated. */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    // project the word array once before indexing (same O(n²) trap
    // as bigramCrossEntropy: element_at(split(...), i) in a lambda
    // would re-split the doc per element)
    val base = fanned(docs).select(col("doc_id"), words(col("text")).as("ws"))
    val n = size(col("ws"))
    def grams(k: Int) =
      when(n >= k, transform(sequence(lit(1), n - (k - 1)),
        i => concat_ws(" ",
          (0 until k).map(j => element_at(col("ws"), i + j)): _*)))
        .otherwise(array().cast("array<string>"))
    // denominator: characters inside words (whitespace excluded)
    val tot = base.select(col("doc_id"),
      aggregate(col("ws"), lit(0L), (a, x) => a + length(x)).as("tot_chars"))
    val gramChars = (c: Column) => length(translate(c, " ", ""))
    val top2 = base.select(col("doc_id"), explode(grams(2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("c").desc, col("g").asc)))
      .where(col("rn") === 1)
      .select(col("doc_id"), (col("c") * gramChars(col("g"))).as("chars2"))
    val dup3 = base.select(col("doc_id"), explode(grams(3)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
      .groupBy("doc_id")
      .agg(sum(col("c") * gramChars(col("g"))).as("chars3"))
    tot.join(top2, Seq("doc_id"), "left").join(dup3, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tot_chars"),
        round(coalesce(col("chars2"), lit(0L)).cast("double") /
          col("tot_chars"), 6).as("top_bigram_frac"),
        round(coalesce(col("chars3"), lit(0L)).cast("double") /
          col("tot_chars"), 6).as("dup_trigram_frac"))
  }

  /** CCNet/Dolma-style dedup normalization: lowercase, strip
    * non-alphanumerics to spaces, collapse runs of whitespace, trim.
    * `norm_md5` is the content hash of the NORMALIZED text — the key
    * modern pipelines dedup on, so that case/punctuation variants of
    * the same document collapse to one hash (CCNet §3.1 normalizes
    * before paragraph hashing for exactly this reason). Pure column
    * algebra: one codegen map stage, no shuffle, 100 TB-safe by
    * construction. The regexes stay inside ASCII classes so Java
    * (Spark) and RE2 (DuckDB oracle) agree byte-for-byte. */
  /** The CCNet/Dolma normalization as a column: lowercase, strip
    * non-alphanumerics to spaces, collapse whitespace runs, trim —
    * shared by [[normalize]] and the paragraph-level dedup
    * ([[Dedup.paragraphDedup]]), which normalizes each paragraph
    * before hashing exactly as CCNet §3.1 does. */
  def normalizeCol(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9\\s]", " "),
      "\\s+", " "))

  def normalize(docs: DataFrame): DataFrame = {
    val collapsed = normalizeCol(col("text"))
    docs.select(col("doc_id"), collapsed.as("norm_text"),
      length(collapsed).as("n_chars_norm"),
      (collapsed =!= col("text")).cast("int").as("changed"),
      md5(collapsed).as("norm_md5"))
  }
}
