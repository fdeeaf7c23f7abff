package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Q
import graft.functions.StableRound
import graft.tables.Checkpoints.CheckpointOps
import graft.tables.Tables

/** Text-analysis operators for training-data pipelines (north-star
  * surface): language ID, quality scoring, token counting, document
  * fingerprinting. All relational single-pass shapes: explode → groupBy on
  * doc_id; the stopword lexicon is a broadcast dimension. */
object TextAnalysis {

  /** Tiny per-language stopword lexicon for the n-gram/stopword heuristic
    * (deterministic; embedded in both engines' queries; shared with the
    * composed cleaning pipeline). */
  private[pipeline] val lexicon: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "is",
    "en" -> "to", "en" -> "in",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "ist",
    "fr" -> "le", "fr" -> "la", "fr" -> "et", "fr" -> "est", "fr" -> "un",
    "es" -> "el", "es" -> "los", "es" -> "es", "es" -> "y", "es" -> "una")

  private def lexValues: String =
    lexicon.map { case (l, w) => s"('$l', '$w')" }.mkString(", ")

  /** The lexicon's English stop words — the parameter of the Gopher
    * stop-word rule (tx14/pipe15/pipe16). The paper's own set is tuned
    * for real web English; the engine uses its ONE shared lexicon so the
    * rule, tx01/tx02 and the composed pipelines can never drift apart. */
  private[pipeline] def enStops: Seq[String] =
    lexicon.filter(_._1 == "en").map(_._2)

  /** `Σ [stop word present]` over a token-list column, as DuckDB SQL
    * (single-line, so it composes into any SQL string regardless of the
    * caller's margin/formatting conventions). */
  private[pipeline] def stopHitsSql(listCol: String): String =
    enStops.map(w =>
      s"(CASE WHEN list_contains($listCol, '$w') THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** The same sum as a Spark Column over an array column. */
  private[pipeline] def stopHitsCol(listCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    enStops.map(w =>
      when(array_contains(listCol, w), 1).otherwise(0)).reduce(_ + _)

  /** Gopher rule thresholds (Rae et al. 2021 §A1.1) — ONE definition
    * shared by tx14 and the composed pipelines (pipe15 funnel, pipe16
    * manifest), so the filter and the reports built on it can never
    * drift. */
  private[pipeline] object Gopher {
    val minWords = 50
    val maxWords = 100000
    val minMeanLen = 3
    val maxMeanLen = 10
    val minAlpha = 0.8
    val maxSymbol = 0.1
    val minStops = 2
  }

  // The shared Gopher metric/rule EXPRESSIONS — DuckDB side. All
  // single-line so they interpolate into any SQL string safely.
  private[pipeline] val tokListSql: String =
    "list_filter(string_split(text, ' '), x -> x <> '')"
  private[pipeline] val nSymbolsSql: String =
    "length(text) - length(replace(text, '#', '')) + " +
      "(length(text) - length(replace(text, '...', ''))) // 3"
  /** The m-CTE metric list over a token-list column `l`. */
  private[pipeline] def gopherMetricsSql: String =
    "len(l) AS n_words, " +
      "list_sum(list_transform(l, x -> length(x))) AS sum_len, " +
      "len(list_filter(l, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha, " +
      s"${stopHitsSql("l")} AS stop_hits"
  /** The five rules as PASS predicates, in funnel order. */
  private[pipeline] def gopherRulesSql: Seq[String] = Seq(
    s"n_words BETWEEN ${Gopher.minWords} AND ${Gopher.maxWords}",
    "CAST(sum_len AS DOUBLE) / nullif(n_words, 0) BETWEEN " +
      s"${Gopher.minMeanLen} AND ${Gopher.maxMeanLen}",
    s"CAST(n_alpha AS DOUBLE) / nullif(n_words, 0) >= ${Gopher.minAlpha}",
    s"CAST(n_symbols AS DOUBLE) / nullif(n_words, 0) <= ${Gopher.maxSymbol}",
    s"stop_hits >= ${Gopher.minStops}")
  private[pipeline] def gopherPassSql: String =
    gopherRulesSql.map(r => s"($r)").mkString(" AND ")

  // … and Spark side: add the metric columns, then the same five rules.
  /** Adds l, n_symbols, n_words, sum_len, n_alpha, stop_hits to a frame
    * carrying `text` (Catalyst collapses the projection chain). */
  private[pipeline] def withGopherMetrics(df: DataFrame): DataFrame =
    df.withColumn("l", graft.functions.Shingles.ngramsCol(col("text"), 1, skipEmpty = true, distinct = false))
      .withColumn("n_symbols", expr(
        "length(text) - length(replace(text, '#', '')) + " +
          "(length(text) - length(replace(text, '...', ''))) div 3")
        .cast("long"))
      .withColumn("n_words", size(col("l")).cast("long"))
      // one TokenStats.wordStats pass replaces the interpreted length
      // fold + per-token RLIKE (the Gopher filter's hot path)
      .withColumn("ws", graft.functions.TokenStats.wordStatsCol(col("l")))
      .withColumn("sum_len", element_at(col("ws"), 1))
      .withColumn("n_alpha", element_at(col("ws"), 2))
      .withColumn("stop_hits", stopHitsCol(col("l")).cast("long"))
  /** The five rules as PASS predicates over those columns, funnel order. */
  private[pipeline] def gopherRuleCols: Seq[org.apache.spark.sql.Column] = {
    val nw = expr("nullif(n_words, 0)")
    Seq(
      col("n_words").between(Gopher.minWords, Gopher.maxWords),
      (col("sum_len").cast("double") / nw)
        .between(Gopher.minMeanLen, Gopher.maxMeanLen),
      col("n_alpha").cast("double") / nw >= Gopher.minAlpha,
      col("n_symbols").cast("double") / nw <= Gopher.maxSymbol,
      col("stop_hits") >= Gopher.minStops)
  }
  private[pipeline] def gopherPassCol: org.apache.spark.sql.Column =
    gopherRuleCols.reduce(_ && _)

  /** Language ID: argmax stopword-hit ratio per language; docs with no
    * hits are 'und'. */
  val tx01LangId: Q = Q(
    "tx01_lang_id",
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |             FROM documents),
       |lex(lang_guess, w) AS (VALUES $lexValues),
       |hits AS (SELECT t.doc_id, l.lang_guess, count(*) AS n_hits
       |         FROM toks t JOIN lex l ON t.tok = l.w
       |         GROUP BY 1, 2),
       |best AS (SELECT doc_id, lang_guess, n_hits,
       |           row_number() OVER (PARTITION BY doc_id
       |             ORDER BY n_hits DESC, lang_guess) AS rk
       |         FROM hits)
       |SELECT d.doc_id, coalesce(b.lang_guess, 'und') AS predicted,
       |  coalesce(b.n_hits, 0) AS n_hits, d.lang AS labeled
       |FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rk = 1
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    // spread: single-row-group scan — parallelize the explode + lexicon
    // probe, and key by doc_id so the hits groupBy and the rank window
    // reuse the same partitioning (see Tables.spread).
    val toks = Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val lex = broadcast(lexicon.toDF("lang_guess", "w"))
    val hits = toks.join(lex, col("tok") === col("w"))
      .groupBy("doc_id", "lang_guess").agg(count(lit(1)).as("n_hits"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("n_hits").desc, col("lang_guess"))
    val best = hits.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lang_guess"), lit("und")).as("predicted"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("lang").as("labeled"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length/stopword/type-token-ratio features folded
    * into one bounded score (single scan + one token groupBy). */
  val tx02QualityScore: Q = Q(
    "tx02_quality_score",
    // Rounding note: round() semantics DIVERGE cross-engine on ties whose
    // double is not binary-exact (Spark rounds the exact decimal expansion
    // HALF_UP; DuckDB rounds the ×10^4-scaled double) — e.g. the weighted
    // quality sum 0.37925 landed on 0.3792 vs 0.3793 at sf0.1. floor(x·10^4
    // + 0.5)/10^4 on BOTH sides depends only on the (identical) input
    // double, never on a round() implementation.
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |             FROM documents),
       |lex(lang_guess, w) AS (VALUES $lexValues),
       |tstats AS (
       |  SELECT t.doc_id, count(*) AS n_tokens,
       |    count(DISTINCT t.tok) AS n_distinct,
       |    floor(avg(length(t.tok)) * 10000 + 0.5) / 10000 AS avg_tok_len,
       |    count(l.w) AS n_stop
       |  FROM toks t LEFT JOIN (SELECT DISTINCT w FROM lex) l ON t.tok = l.w
       |  GROUP BY 1)
      |SELECT d.doc_id, t.n_tokens, t.n_distinct, t.avg_tok_len,
      |  floor(CAST(t.n_distinct AS DOUBLE) / t.n_tokens * 10000 + 0.5)
      |    / 10000 AS ttr,
      |  floor(CAST(t.n_stop AS DOUBLE) / t.n_tokens * 10000 + 0.5)
      |    / 10000 AS stop_ratio,
      |  floor((0.4 * (CAST(t.n_distinct AS DOUBLE) / t.n_tokens)
      |    + 0.3 * least(1.0, t.n_tokens / 100.0)
      |    + 0.3 * (CAST(t.n_stop AS DOUBLE) / t.n_tokens)) * 10000 + 0.5)
      |    / 10000 AS quality
      |FROM documents d JOIN tstats t ON t.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    def r4(c: org.apache.spark.sql.Column) =
      floor(c * 10000 + 0.5) / 10000
    val toks = Tables.spread(s, Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val lex = broadcast(lexicon.map(_._2).distinct.toDF("w"))
    val tstats = toks
      .join(lex, col("tok") === col("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct("tok").as("n_distinct"),
        r4(avg(length(col("tok")))).as("avg_tok_len"),
        count(col("w")).as("n_stop"))
    Tables.documents(s, d).select("doc_id")
      .join(tstats, "doc_id")
      .withColumn("ttr_raw", col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("stop_raw", col("n_stop").cast("double") / col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("avg_tok_len"),
        r4(col("ttr_raw")).as("ttr"),
        r4(col("stop_raw")).as("stop_ratio"),
        r4(lit(0.4) * col("ttr_raw")
          + lit(0.3) * least(lit(1.0), col("n_tokens") / 100.0)
          + lit(0.3) * col("stop_raw")).as("quality"))
      .orderBy("doc_id")
  }

  /** Per-doc RAW quality score — the tx02 formula with identical operation
    * order, shared with the composed cleaning pipeline so the two surfaces
    * can never drift apart. */
  private[pipeline] def qualityScores(s: SparkSession, docsDf: DataFrame)
      : DataFrame = {
    import s.implicits._
    val toks = docsDf
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val lex = broadcast(lexicon.map(_._2).distinct.toDF("w"))
    toks.join(lex, col("tok") === col("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct("tok").as("n_distinct"),
        count(col("w")).as("n_stop"))
      .select(col("doc_id"),
        (lit(0.4) * (col("n_distinct").cast("double") / col("n_tokens"))
          + lit(0.3) * least(lit(1.0), col("n_tokens") / 100.0)
          + lit(0.3) * (col("n_stop").cast("double") / col("n_tokens")))
          .as("quality"))
  }

  /** Token counting: whitespace tokens, regex word tokens (BPE-ish
    * alnum-run pre-tokenizer), characters — one projection, no shuffle. */
  val tx03TokenCount: Q = Q(
    // bpe_pieces: GPT-2-style PRE-tokenization count — runs of letters,
    // runs of digits, runs of other symbols (each optionally preceded by
    // one space), whitespace runs excluded. Lookahead-free so Java regex
    // (Spark) and RE2 (DuckDB) match identically; the count approximates
    // the sequence length a byte-BPE tokenizer would see (pieces split
    // further only inside long words).
    "tx03_token_count",
    """SELECT doc_id,
      |  len(list_filter(string_split(text, ' '), x -> x <> ''))
      |    AS ws_tokens,
      |  len(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
      |      x -> x <> '')) AS word_tokens,
      |  len(regexp_extract_all(text,
      |      ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r]+')) AS bpe_pieces,
      |  length(text) AS n_chars_measured, n_chars AS n_chars_labeled
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      size(graft.functions.Shingles.ngramsCol(col("text"), 1, skipEmpty = true, distinct = false)).as("ws_tokens"),
      size(expr("filter(split(text, '[^a-zA-Z0-9]+'), x -> x != '')"))
        .as("word_tokens"),
      // the symbol class excludes ALL whitespace (explicit chars, not \\s:
      // Java \\s adds \\x0B where RE2's does not) — a newline run is not
      // a BPE piece
      size(expr(
        "regexp_extract_all(text, " +
          "' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\n\\r]+', 0)"))
        .as("bpe_pieces"),
      length(col("text")).as("n_chars_measured"),
      col("n_chars").as("n_chars_labeled"))
      .orderBy("doc_id")
  }

  /** Document fingerprint: bottom-4 sketch over word-trigram md5s (a
    * deterministic winnowing analog; fingerprint equality ≈ near-dup). */
  val tx04Fingerprint: Q = Q(
    "tx04_fingerprint",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
      |         range(1, len(l) - 1),
      |         i -> md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS h
      |       FROM toks),
      |ranked AS (SELECT doc_id, h,
      |             row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rk
      |           FROM sh)
      |SELECT doc_id, string_agg(h, '|' ORDER BY h) AS fingerprint
      |FROM ranked WHERE rk <= 4 GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
    (s, d) =>
      // doc_id is the row key, so the "4 smallest distinct 3-gram hashes"
      // fingerprint is a PER-ROW computation — no explode, no distinct
      // shuffle, no window: sort the deduped in-row hash array and slice.
      // Embarrassingly parallel at any scale. Docs with <3 tokens have no
      // trigram and no output row, matching the oracle's empty group —
      // and guarding Spark's sequence(0, n<0), which is a DESCENDING
      // range, not an empty one.
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("l"),
          col("text"))
        .filter(size(col("l")) >= 3)
        // BottomHashes kernel: trigram shingles in one byte pass, md5 +
        // bottom-4 distinct through a k-slot set — no per-shingle lambda,
        // no throwaway full hash array (KernelTwinsSpec pins the twin)
        .select(col("doc_id"), graft.functions.BottomHashes.bottomKCol(
          graft.functions.Shingles.ngramsCol(col("text"), 3,
            skipEmpty = false, distinct = false), 4).as("fingerprint"))
        .orderBy("doc_id")
  }

  /** Repetition filter (the Gopher/C4-style within-doc duplication rule):
    * fraction of word-bigrams that are repeats of an earlier bigram in the
    * SAME document. High ratio = boilerplate/spam/looping text — a standard
    * pre-training quality gate, complementing tx02 (which scores lexical
    * shape, not internal redundancy).
    *
    * Per-ROW computation like tx04: the ratio needs only the in-row shingle
    * list (size vs distinct size) — no explode, no shuffle, embarrassingly
    * parallel at any scale. Docs with <2 tokens have no bigrams and no row
    * (nothing to measure), matching the oracle's WHERE. */
  val tx05Repetition: Q = Q(
    "tx05_repetition",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |sh AS (SELECT doc_id, list_transform(range(1, len(l)),
      |         i -> l[i] || ' ' || l[i+1]) AS sh
      |       FROM toks WHERE len(l) >= 2)
      |SELECT doc_id, len(sh) AS n_bigrams,
      |  floor((1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh))
      |    * 10000 + 0.5) / 10000 AS rep_ratio,
      |  (1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)) >= 0.1
      |    AS flagged
      |FROM sh ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.StableRound
    val rr = lit(1.0) -
      size(array_distinct(col("sh"))).cast("double") / size(col("sh"))
    Tables.documents(s, d)
      // ≥2 tokens ⟺ the text contains a space (split keeps empty tokens)
      .filter(col("text").contains(" "))
      .select(col("doc_id"),
        graft.functions.Shingles.bigramsCol(col("text")).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_bigrams"),
        StableRound.r4(rr).as("rep_ratio"), (rr >= 0.1).as("flagged"))
      .orderBy("doc_id")
  }

  /** Vocabulary building: corpus-wide token frequency table (term freq +
    * document freq), top-50 — the first step of any tokenizer/BPE training
    * run and the classic skewed-key aggregation. Scale shape: explode is
    * map-side; the groupBy's partial (map-side combine) collapses each
    * task's token stream to its distinct tokens BEFORE the shuffle, so the
    * shuffle carries |vocab|·|tasks| partials, not |corpus| tokens — the
    * reason no salting is needed even though token frequency is Zipfian.
    * doc_freq rides the same shuffle as count(DISTINCT doc_id) partials.
    * The final top-50 is a TakeOrdered, not a global sort. */
  val tx06VocabTopK: Q = Q(
    "tx06_vocab_topk",
    """SELECT token, count(*) AS term_freq,
      |  count(DISTINCT doc_id) AS doc_freq
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |      FROM documents)
      |WHERE token <> ''
      |GROUP BY token ORDER BY term_freq DESC, token LIMIT 50""".stripMargin) {
    (s, d) =>
      // token <> '': splitting on ' ' keeps empty strings for leading/
      // trailing/double spaces — a phantom '' entry would pollute the
      // vocabulary (tx03/pipe09/pipe11 filter the same way)
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("term_freq"),
          countDistinct("doc_id").as("doc_freq"))
        .orderBy(col("term_freq").desc, col("token"))
        .limit(50)
  }

  /** Rolling-hash winnowing fingerprint (tx04's alignment-robust sibling,
    * the brief's "rolling hash" fingerprint): Rabin-Karp hashes over every
    * 8-byte window, sliding 16-window minima, 8 smallest distinct minima
    * per doc — computed by the codegen'd [[graft.functions.Winnow]]
    * kernel in ONE O(n) pass per row (no explode, no shuffle before the
    * sort). The oracle recomputes every window hash directly
    * (`list_reduce` polynomial — O(n·k), fine at oracle scale); modular
    * arithmetic is exact, so rolling and direct forms are bit-identical.
    * Docs shorter than k+w-1 bytes have no full window: filtered on both
    * sides. */
  /** Oracle CTE computing every doc's winnow minima directly (per-window
    * polynomial recompute — modular arithmetic is exact, so it matches the
    * kernel's rolling form bit-for-bit). Shared by tx07, dd07 and pipe10;
    * `rel` names the (doc_id, text) relation to fingerprint. */
  private[pipeline] def winnowMinimaCteOver(rel: String): String =
    s"""pos AS (
      |  SELECT doc_id, text, unnest(range(length(text) - 8 + 1)) AS i
      |  FROM $rel WHERE length(text) >= 8 + 16 - 1),
      |h AS (SELECT doc_id, i,
      |  list_reduce(list_transform(range(8),
      |      j -> CAST(ascii(substr(text, CAST(i + j + 1 AS INT), 1)) AS BIGINT)),
      |    (a, b) -> (a * 257 + b) % 1000000007) AS wh,
      |  length(text) - 8 + 1 AS n_h
      |  FROM pos),
      |m AS (SELECT doc_id, i, n_h,
      |  min(wh) OVER (PARTITION BY doc_id ORDER BY i
      |    ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS mn
      |  FROM h)""".stripMargin

  private[pipeline] val winnowMinimaCte = winnowMinimaCteOver("documents")

  val tx07WinnowFingerprint: Q = Q(
    "tx07_winnow_fingerprint",
    s"""WITH $winnowMinimaCte
      |SELECT doc_id,
      |  array_to_string((list_sort(list(DISTINCT mn)))[1:8], '|') AS fp
      |FROM m WHERE i <= n_h - 16
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    // string-joined (not array-typed) output: the hash compare sorts rows
    // by every column, and array cells are unhashable/unsortable there
    Tables.documents(s, d)
      // byte length, matching the kernel's UTF-8 unit (see winnowPairs)
      .filter(octet_length(col("text")) >= 8 + 16 - 1)
      .select(col("doc_id"),
        array_join(graft.functions.Winnow.fingerprintCol(col("text"))
          .cast("array<string>"), "|").as("fp"))
      .orderBy("doc_id")
  }

  /** Character-trigram language ID (the classic textcat n-gram heuristic,
    * complementing tx01's word-lexicon approach): per-language top-20
    * trigram PROFILES are learned from the labeled corpus in one
    * aggregation, then each doc is scored by how many of its distinct
    * trigrams hit each profile; predicted = argmax (ties → lang asc,
    * no-hit docs → 'und').
    *
    * Scale shape: profile learning runs on a DETERMINISTIC 10% SAMPLE
    * (doc_id % 10 — trigram profiles converge on a tiny fraction of the
    * corpus; training on all of it would double the corpus scans for no
    * information), one groupBy(lang, trigram) with map-side combine over
    * in-row-deduped trigram lists (the per-row array_distinct keeps the
    * corpus-wide distinct shuffle out, tx04's doctrine); profiles are
    * 5×20 rows → broadcast; scoring is one full-corpus explode +
    * broadcast hash join + groupBy(doc, lang) + argmax window
    * partitioned by doc. Char trigrams work on CHARACTERS (substring
    * semantics match across engines for multi-byte text).
    *
    * FIXTURE CAVEAT: the synthetic corpus draws every doc from one shared
    * English-ish vocabulary and assigns `lang` labels at random, so all
    * five learned profiles are near-identical and predictions sit at
    * chance with ties resolving alphabetically — expected, and irrelevant
    * to the gate (the oracle checks the HEURISTIC's exact output, not
    * label accuracy). On real multilingual text the same pipeline is the
    * standard textcat discriminator. */
  val tx08NgramLangId: Q = Q(
    "tx08_ngram_langid",
    """WITH tri AS (
      |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
      |    range(1, length(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3)))) AS tg
      |  FROM documents WHERE length(text) >= 3),
      |prof AS (
      |  SELECT lang AS cand, tg FROM (
      |    SELECT lang, tg, row_number() OVER (PARTITION BY lang
      |      ORDER BY count(*) DESC, tg) AS rk
      |    FROM tri WHERE doc_id % 10 = 0 GROUP BY lang, tg)
      |  WHERE rk <= 20),
      |hits AS (
      |  SELECT t.doc_id, p.cand, count(*) AS n_hits
      |  FROM tri t JOIN prof p ON t.tg = p.tg
      |  GROUP BY 1, 2),
      |best AS (
      |  SELECT doc_id, cand, n_hits, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY n_hits DESC, cand) AS rk
      |  FROM hits)
      |SELECT d.doc_id, coalesce(b.cand, 'und') AS predicted,
      |  coalesce(b.n_hits, 0) AS n_hits, d.lang AS labeled
      |FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rk = 1
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    // in-row distinct trigram list (per-row dedup, no corpus-wide
    // distinct), shared by profile learning and scoring
    val tri = Tables.spread(s, Tables.documents(s, d), "doc_id")
      .filter(length(col("text")) >= 3)
      // kernel form of array_distinct(transform(sequence(...),
      // substring(text, i, 3))) — one codepoint pass, no per-char
      // interpreted lambda (CharNgramsSpec pins the equality)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.Shingles
          .charNgramsCol(col("text"), 3, distinct = true)).as("tg"))
    val wProf = Window.partitionBy("lang")
      .orderBy(col("count").desc, col("tg"))
    val prof = broadcast(
      tri.filter(col("doc_id") % 10 === 0)
        .groupBy("lang", "tg").count()
        .withColumn("rk", row_number().over(wProf))
        .filter(col("rk") <= 20)
        .select(col("lang").as("cand"), col("tg")))
    val wBest = Window.partitionBy("doc_id")
      .orderBy(col("n_hits").desc, col("cand"))
    val best = tri.join(prof, "tg")
      .groupBy("doc_id", "cand").agg(count(lit(1)).as("n_hits"))
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .drop("rk")
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cand"), lit("und")).as("predicted"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("lang").as("labeled"))
      .orderBy("doc_id")
  }

  /** PII detection + redaction (the privacy pass every pre-training
    * pipeline runs before release): regex-match emails, IPv4 addresses and
    * phone numbers, count them, and emit the redacted text's md5.
    *
    * The raw fixture corpus carries no PII, so the query first AUGMENTS
    * each doc with deterministic doc_id-derived PII (two emails, an IP, a
    * phone) — the detector then has real work whose exact output both
    * engines must reproduce byte-for-byte. Patterns are written in the
    * Java-regex ∩ RE2 common subset (no lookahead, ASCII classes, `\b`
    * word boundaries — identical semantics on ASCII text), the same
    * discipline as tx03's BPE pre-tokenizer. Redaction order is fixed
    * (email → IP → phone) and both engines replace non-overlapping
    * matches left to right, so the redacted bytes — and their md5 — are
    * engine-independent.
    *
    * Scale shape: per-ROW projection, no shuffle, embarrassingly parallel
    * (tx04's doctrine); regexes are compiled once per task inside
    * whole-stage codegen. */
  /** The Java-regex ∩ RE2 PII patterns (shared with the spec, which
    * asserts the detector finds ZERO residual matches after redaction). */
  private[graft] val piiEmail =
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val piiIp = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private[graft] val piiPhone = """\b\d{3}-\d{3}-\d{4}\b"""

  /** (doc_id, t=augmented text, r=redacted text) — tx09's working set,
    * exposed so the spec can probe the redacted text itself. */
  private[graft] def piiRedacted(s: SparkSession, d: String): DataFrame = {
    val aug = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example.com or user."),
        col("doc_id").cast("string"), lit("@corp.example.org ip 10."),
        (col("doc_id") % 200).cast("string"), lit(".0."),
        (col("doc_id") % 250 + 1).cast("string"), lit(" call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("t"))
    aug.withColumn("r",
      regexp_replace(regexp_replace(regexp_replace(col("t"),
        piiEmail, "<EMAIL>"), piiIp, "<IP>"), piiPhone, "<PHONE>"))
  }

  val tx09PiiRedact: Q = {
    val email = piiEmail
    val ip = piiIp
    val phone = piiPhone
    Q(
      "tx09_pii_redact",
      s"""WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id::VARCHAR
        |      || '@mail.example.com or user.' || doc_id::VARCHAR
        |      || '@corp.example.org ip 10.' || (doc_id % 200)::VARCHAR
        |      || '.0.' || (doc_id % 250 + 1)::VARCHAR
        |      || ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
        |      || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, t,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '$email', '<EMAIL>', 'g'),
        |      '$ip', '<IP>', 'g'),
        |      '$phone', '<PHONE>', 'g') AS r
        |  FROM aug)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '$email')) AS n_emails,
        |  len(regexp_extract_all(t, '$ip')) AS n_ips,
        |  len(regexp_extract_all(t, '$phone')) AS n_phones,
        |  md5(r) AS redacted_md5, length(r) AS n_chars_redacted
        |FROM red ORDER BY doc_id""".stripMargin) { (s, d) =>
      piiRedacted(s, d).select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(email), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(ip), lit(0))).as("n_ips"),
        size(regexp_extract_all(col("t"), lit(phone), lit(0))).as("n_phones"),
        md5(col("r")).as("redacted_md5"),
        length(col("r")).as("n_chars_redacted"))
        .orderBy("doc_id")
    }
  }

  /** Lexical diversity via Simpson's index (the ecology measure applied to
    * token distributions — complements tx02's type-token ratio, which
    * ignores HOW skewed the repeats are): per doc, Σ cᵢ² over token-type
    * counts. The numerator is an INTEGER, so the heavy statistic is exact
    * by construction and only the final ratios round (r4, IEEE-exact
    * division inputs). `effective_vocab` = n²/Σc² is the "how many
    * equally-likely tokens would look like this" size.
    *
    * Per-ROW computation (tx04's doctrine): the whole statistic needs only
    * the in-row token list — no explode, no shuffle. The per-row cost is
    * O(types·tokens) via the nested filter; both engines run the same
    * formula so the integer output is identical. */
  val tx10LexicalDiversity: Q = Q(
    "tx10_lexical_diversity",
    """WITH t AS (SELECT doc_id,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS l
      |       FROM documents),
      |u AS (SELECT doc_id, l, list_sort(list_distinct(l)) AS types FROM t
      |      WHERE len(l) >= 1)
      |SELECT doc_id, len(l) AS n_tokens, len(types) AS n_types,
      |  CAST(list_sum(list_transform(
      |    list_transform(types, v -> CAST(len(list_filter(l, x -> x = v)) AS BIGINT)),
      |    c -> c * c)) AS BIGINT) AS sum_sq,
      |  floor(CAST(list_sum(list_transform(
      |      list_transform(types, v -> CAST(len(list_filter(l, x -> x = v)) AS BIGINT)),
      |      c -> c * c)) AS DOUBLE)
      |    / (CAST(len(l) AS DOUBLE) * len(l)) * 10000 + 0.5) / 10000
      |    AS simpson,
      |  floor(CAST(len(l) AS DOUBLE) * len(l)
      |    / CAST(list_sum(list_transform(
      |        list_transform(types, v -> CAST(len(list_filter(l, x -> x = v)) AS BIGINT)),
      |        c -> c * c)) AS DOUBLE) * 10000 + 0.5) / 10000
      |    AS effective_vocab
      |FROM u ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.{Shingles, StableRound, TokenStats}
    val n2 = col("n_tokens").cast("double") * col("n_tokens")
    // phantom '' tokens (leading/trailing/double spaces) must not count
    // toward diversity — same token definition as tx03/pipe09/pipe11
    // (1-grams of the skip-empty tokenizer ARE the filtered token array).
    // n_types and Σc² come from ONE hash pass (TokenStats) — the old
    // filter-per-type spelling was O(types × tokens) interpreted lambda
    // evals per document, the shape tx12's scaladoc rejects.
    Tables.documents(s, d)
      .select(col("doc_id"),
        Shingles.ngramsCol(col("text"), 1, skipEmpty = true,
          distinct = false).as("l"))
      .filter(size(col("l")) >= 1)
      .select(col("doc_id"), size(col("l")).as("n_tokens"),
        TokenStats.typeStatsCol(col("l")).as("ts"))
      .select(col("doc_id"), col("n_tokens"),
        element_at(col("ts"), 1).cast("int").as("n_types"),
        element_at(col("ts"), 2).as("sum_sq"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("sum_sq"),
        StableRound.r4(col("sum_sq").cast("double") / n2).as("simpson"),
        StableRound.r4(n2 / col("sum_sq").cast("double"))
          .as("effective_vocab"))
      .orderBy("doc_id")
  }

  /** Token commonness: each doc's average CORPUS frequency of its tokens —
    * the LM-free quality proxy (rare-token-heavy docs are gibberish,
    * boilerplate IDs, or off-language; common-token docs are fluent text).
    * Deliberately integer-exact end to end: the per-token corpus count is
    * a window count, the per-doc score a ratio of two integer sums — no
    * log/exp whose low-order bits could diverge across engines.
    *
    * Plan: documents scanned ONCE; the exploded tokens shuffle once on the
    * token key (the window), then once on doc_id (the rollup). At 100 TB
    * the token exchange dominates — it is the same volume a unigram-LM
    * build pass moves, and Zipf skew on mega-tokens is the known hazard
    * (mitigation if it bites: salt the window like q22 and merge counts). */
  val tx11TokenCommonness: Q = Q(
    "tx11_token_commonness",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
      |wc AS (SELECT doc_id, count(*) OVER (PARTITION BY tok) AS c FROM t)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(c) AS BIGINT) AS freq_sum,
      |  floor(sum(c) * 1.0 / count(*) * 100 + 0.5) / 100 AS avg_commonness
      |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.StableRound
    // phantom '' tokens (leading/trailing/double spaces) are not
    // vocabulary — same token definition as tx03/tx06/tx10.
    // `def` on purpose: two consumers recompute the explode instead of
    // checkpointing a corpus-sized token frame; a third consumer should
    // flip this to `.materialized`.
    def toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    // Corpus frequency needs the VALUE per occurrence, so the skew-safe
    // form is partial-agg + join back, not a partitionBy(tok) window:
    // a stop-word ("the" ≈ 5% of all tokens) collapses map-side to one
    // row per mapper in the groupBy, and the join back is broadcastable
    // (vocabulary-sized side) or AQE-skew-splittable — where the window
    // would pile 5% of the corpus onto one sorting reducer. Trade: a
    // second pushed-down scan (dd11/dd12's recipe).
    val freqs = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    toks.join(freqs, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("c").as("freq_sum"),
        StableRound.r2(sum("c") * lit(1.0) / count(lit(1)))
          .as("avg_commonness"))
      .orderBy("doc_id")
  }

  /** Character-bigram Shannon entropy per document — the information-
    * density quality signal: templated/repetitive text (keyboard mash,
    * boilerplate, base64 runs have distinctive values too) sits well
    * below natural prose, and "low character entropy" is a standard
    * corpus-filter feature alongside tx02's ratio rules and tx05's
    * bigram repetition. H = log2(n) − Σ c·log2(c) / n over per-doc
    * bigram counts (the numerically-stable rearrangement of
    * −Σ p·log2 p: counts stay integers until one final division).
    *
    * Scale shape: explode → count per (doc, bigram) → fold per doc.
    * The NARROW doc rows are hash-partitioned on doc_id BEFORE the
    * explode (dd04's distribution trick): HashPartitioning(doc_id)
    * satisfies the clustered distribution of BOTH downstream groupBys
    * (partial-key subset), so the 100×-wider bigram stream never
    * crosses the wire — one exchange of the cheap side total. The
    * per-row lambda alternative (array_distinct + a filter per distinct
    * bigram) is quadratic in document length, so the relational form is
    * the one that survives long documents. Flag threshold 5.5 bits ≈
    * the bottom 5% of the fixture distribution (observed 4.6-6.6). */
  val tx12CharEntropy: Q = Q(
    "tx12_char_entropy",
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, length(text)),
      |    i -> substr(text, i, 2))) AS b
      |  FROM documents WHERE length(text) >= 2),
      |cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |  floor((log2(sum(c)) - sum(c * log2(c)) / sum(c)) * 10000 + 0.5)
      |    / 10000 AS entropy,
      |  (log2(sum(c)) - sum(c * log2(c)) / sum(c)) < 5.5 AS flagged
      |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.StableRound
    val h = log2(sum("c")) - sum(col("c") * log2(col("c"))) / sum("c")
    Tables.documents(s, d)
      .filter(length(col("text")) >= 2)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      // CharNGrams kernel: same codepoint bigrams as the declarative
      // transform(sequence(...), substring(text, i, 2)) spelling
      // (KernelTwinsSpec pins the n=3 form; same code path), without the
      // per-character interpreted lambda
      .select(col("doc_id"), explode(graft.functions.Shingles
        .charNgramsCol(col("text"), 2, distinct = false)).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        StableRound.r4(h).as("entropy"), (h < 5.5).as("flagged"))
      .orderBy("doc_id")
  }

  /** Corpus-trained bigram language-model score per document — the
    * CCNet-style perplexity proxy without an external LM: train MLE
    * bigram counts on the corpus itself, then score each doc by its mean
    * log2 P(v|u) = log2 C(u,v) − log2 C(u,·). Docs whose token
    * transitions are rare corpus-wide (shuffled text, gibberish,
    * off-distribution boilerplate) score low; fluent in-distribution
    * text scores high. No smoothing is needed: every scored bigram is in
    * the training counts by construction (C(u,v) ≥ 1).
    *
    * Counts stay integers until the per-bigram log (tx12's discipline);
    * the flag compares the ROUNDED mean so both engines decide it on the
    * identical r4 double. Threshold −5.0 ≈ the bottom 2% of the fixture
    * distribution (observed −5.26..−4.70).
    *
    * Scale shape (tx11's window discipline, twice over): both training
    * counts are WINDOW counts over the one exploded bigram stream —
    * C(u,·) partitioned by the context u, C(u,v) partitioned by (u, b).
    * Ordering the windows context-first lets the second ride the first's
    * exchange (HashPartitioning(u) satisfies the (u, b) clustering — the
    * tx12 subset trick applied to windows), so the corpus is scanned
    * once, never joined, and crosses the wire exactly twice: once keyed
    * by context, once for the per-doc rollup. The Zipfian mega-context
    * ("the …") is the known skew hazard; q22's salting is the
    * escalation if one context dominates a partition. */
  val tx13BigramLm: Q = Q(
    "tx13_bigram_lm",
    """WITH toks AS (SELECT doc_id,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS l
      |       FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(l)),
      |         i -> l[i] || ' ' || l[i+1])) AS b
      |       FROM toks WHERE len(l) >= 2),
      |wc AS (SELECT doc_id,
      |         log2(CAST(count(*) OVER (PARTITION BY b) AS DOUBLE)) -
      |         log2(CAST(count(*) OVER (PARTITION BY string_split(b, ' ')[1])
      |           AS DOUBLE)) AS lp
      |       FROM bg)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  floor(sum(lp) / count(*) * 10000 + 0.5) / 10000 AS avg_logprob,
      |  floor(sum(lp) / count(*) * 10000 + 0.5) / 10000 < -5.0
      |    AS flagged
      |FROM wc GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.StableRound
    // positional bigrams (NOT distinct — every transition instance counts
    // for both training and scoring)
    def bg = Tables.documents(s, d)
      .select(col("doc_id"), explode(graft.functions.Shingles
        .ngramsCol(col("text"), 2, skipEmpty = true, distinct = false))
        .as("b"))
    // The LM "training" counts need their VALUES attached per occurrence,
    // so the skew-safe form is the dd11/tx11 recipe, not corpus-sized
    // windows on content keys: transition counts come from ONE
    // map-side-combined groupBy (a hot context like "the" collapses per
    // mapper), context totals re-aggregate the VOCABULARY-sized count
    // frame (never the corpus), and the model — a (b, lp) table — joins
    // back onto the occurrence stream (broadcastable; AQE-skew-splittable
    // otherwise). Trade: a second pushed-down scan.
    val model = bg.groupBy("b").agg(count(lit(1)).as("cb"))
      .withColumn("u", split(col("b"), " ")(0))
      .withColumn("cu", sum("cb").over(Window.partitionBy("u")))
      .select(col("b"),
        (log2(col("cb").cast("double")) -
          log2(col("cu").cast("double"))).as("lp"))
    val alp = StableRound.r4(sum("lp") / count(lit(1)))
    bg.join(model, "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        alp.as("avg_logprob"), (alp < -5.0).as("flagged"))
      .orderBy("doc_id")
  }

  /** Gopher rule-based document filter (Rae et al. 2021 §A1.1, the
    * public-web-corpus standard): named boolean RULES with hard
    * thresholds, complementing tx02's continuous quality score — a
    * curation run wants to know WHICH rule killed a doc, not just that a
    * composite dipped. Rules kept from the paper (the fixture has no
    * newlines, so the line-shape rules are vacuous here and omitted):
    * word count in [50, 100000]; mean word length in [3, 10]; ≥ 80% of
    * words contain an alphabetic character; symbol-to-word ratio
    * ("#"/"...") ≤ 0.1; at least 2 distinct stop words from the engine's shared EN lexicon
    * present (the paper's rule parameterized by [[enStops]]).
    *
    * Everything is IN-ROW over the token array (integer counts, one
    * division per ratio, r4-rounded for the cross-engine gate): one scan,
    * no shuffle but the output sort — embarrassingly parallel at any
    * scale. */
  val tx14GopherRules: Q = Q(
    "tx14_gopher_rules",
    s"""WITH w AS (SELECT doc_id, $tokListSql AS l,
      |    $nSymbolsSql AS n_symbols
      |  FROM documents),
      |m AS (SELECT doc_id, n_symbols, $gopherMetricsSql
      |  FROM w WHERE len(l) > 0)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |  floor(CAST(sum_len AS DOUBLE) / n_words * 10000 + 0.5) / 10000
      |    AS mean_word_len,
      |  floor(CAST(n_alpha AS DOUBLE) / n_words * 10000 + 0.5) / 10000
      |    AS alpha_ratio,
      |  CAST(stop_hits AS BIGINT) AS stop_hits,
      |  ${gopherRulesSql(0)} AS pass_word_count,
      |  ${gopherRulesSql(1)} AS pass_mean_len,
      |  ${gopherRulesSql(2)} AS pass_alpha,
      |  ${gopherRulesSql(3)} AS pass_symbol,
      |  ${gopherRulesSql(4)} AS pass_stop,
      |  $gopherPassSql AS gopher_pass
      |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.StableRound
    val meanLen = col("sum_len").cast("double") / col("n_words")
    val alphaR = col("n_alpha").cast("double") / col("n_words")
    val rules = gopherRuleCols
    withGopherMetrics(Tables.documents(s, d))
      .filter(size(col("l")) > 0)
      .select(col("doc_id"), col("n_words"),
        StableRound.r4(meanLen).as("mean_word_len"),
        StableRound.r4(alphaR).as("alpha_ratio"),
        col("stop_hits"),
        rules(0).as("pass_word_count"),
        rules(1).as("pass_mean_len"),
        rules(2).as("pass_alpha"),
        rules(3).as("pass_symbol"),
        rules(4).as("pass_stop"),
        gopherPassCol.as("gopher_pass"))
      .orderBy("doc_id")
  }

  /** Hashed linear quality classifier — the fastText-style model-based
    * filter (Joulin et al. 2016's hashing trick; the architecture behind
    * the LLaMA/CCNet "looks like a reference page" classifiers): each
    * token hashes into one of 256 weight buckets, the doc score is the
    * mean bucket weight, and the keep decision is its sign. The WEIGHTS
    * are a marked deterministic fake (md5-derived integers in
    * [-500, 500] — this container ships no trained model), mirroring the
    * multimodal decode policy: the plumbing that matters at scale — the
    * hashing trick, the fixed-size bucket table, in-row scoring with no
    * vocabulary join — is the real contract, and swapping real trained
    * weights in changes one lambda.
    *
    * Integer-exact gate: score_sum is an integer fold, the keep decision
    * compares score_sum ≥ 0 (never the rounded double), so both engines
    * decide every row identically. Scale shape: ONE in-row aggregate
    * lambda per doc — no explode, no shuffle but the presentation sort;
    * a real-weights variant broadcasts a 256-row weight table and the
    * shape is unchanged.
    *
    * REGISTERED ROLE (round 14, settling the tx15↔tx24 relationship):
    * tx15 is the CONTRACT-PIN TWIN of [[tx24TrainedFilter]]. tx24 is
    * the product scoring path — this exact in-row scoring contract fed
    * by the TRAINED tx22 model; tx15 keeps the 256-slot hashing-trick
    * shape itself oracle-gated with weights that can never drift
    * (deterministic placeholders), so a training change can never
    * silently change what the scoring CONTRACT computes. Nobody should
    * filter a corpus with tx15's weights. */
  /** tx15's fake-but-deterministic per-slot weights as a SQL literal:
    * w[s] = uint32(md5("w"+s)[0..8)) % 1001 - 500, exactly the oracle's
    * spelling — computed once on the driver (256 longs). */
  private lazy val tx15WeightLit: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 256).map { slot =>
      val hex = md.digest(s"w$slot".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 1001 - 500
    }.mkString("array(", "L,", "L)")
  }

  val tx15HashClassifier: Q = Q(
    "tx15_hash_classifier",
    """WITH w AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS l
      |  FROM documents),
      |s AS (SELECT doc_id, len(l) AS n_tokens,
      |    list_sum(list_transform(l, x ->
      |      ('0x' || substr(md5('w' ||
      |          (('0x' || substr(md5(x), 1, 8))::BIGINT % 256)::VARCHAR),
      |        1, 8))::BIGINT % 1001 - 500)) AS score_sum
      |  FROM w WHERE len(l) > 0)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(score_sum AS BIGINT) AS score_sum,
      |  floor(CAST(score_sum AS DOUBLE) / (1000 * n_tokens) * 10000 + 0.5)
      |    / 10000 AS score,
      |  score_sum >= 0 AS keep
      |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.StableRound
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.Shingles.ngramsCol(col("text"), 1, skipEmpty = true, distinct = false).as("l"))
      .filter(size(col("l")) > 0)
      // kernel path: the md5-slot convention is HashedCounts' (%256), and
      // the per-slot weight md5('w'+slot)%1001-500 is a DETERMINISTIC
      // 256-entry literal — so the per-token interpreted fold (2 digests
      // + lambda eval per token) becomes one codegen'd counting pass and
      // a 256-bounded dot against the literal weights. Identical sums:
      // sum over tokens of w[slot(t)] = sum over slots of counts[s]*w[s].
      .withColumn("hc",
        graft.functions.HashedCounts.countsCol(col("l"), 256))
      .select(col("doc_id"), size(col("l")).cast("long").as("n_tokens"),
        expr(s"""aggregate(zip_with(hc, $tx15WeightLit,
            (c, w) -> c * w), 0L, (a, v) -> a + v)""")
          .as("score_sum"))
      .select(col("doc_id"), col("n_tokens"), col("score_sum"),
        StableRound.r4(col("score_sum").cast("double")
          / (lit(1000) * col("n_tokens"))).as("score"),
        (col("score_sum") >= 0).as("keep"))
      .orderBy("doc_id")
  }

  /** Encoding / mojibake QC — the transcode-health gate a crawl corpus
    * runs before any text analysis: per-doc ASCII share (CJK text is
    * legitimately low — the ratio is a feature, not a verdict), plus
    * hard counts of the two unambiguous damage signals: C0 control
    * characters (excluding tab/newline/CR) and U+FFFD replacement
    * characters (the residue of a bad transcode). `clean` is the
    * integer-count gate, never a float.
    *
    * Everything is per-row (two regex strips + one translate over the
    * doc string): zero shuffle but the presentation sort. The fixture
    * corpus is transcode-clean by construction, so the damage columns
    * are pinned by the crafted-corpus spec rather than the oracle. */
  val tx16EncodingQc: Q = Q(
    "tx16_encoding_qc",
    """WITH m AS (SELECT doc_id, length(text) AS n_chars,
      |    length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS n_ascii,
      |    length(text) - length(regexp_replace(text,
      |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_control,
      |    length(text) - length(replace(text, chr(65533), ''))
      |      AS n_replacement
      |  FROM documents WHERE length(text) > 0)
      |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
      |  CAST(n_ascii AS BIGINT) AS n_ascii,
      |  floor(CAST(n_ascii AS DOUBLE) / n_chars * 10000 + 0.5) / 10000
      |    AS ascii_ratio,
      |  CAST(n_control AS BIGINT) AS n_control,
      |  CAST(n_replacement AS BIGINT) AS n_replacement,
      |  n_control = 0 AND n_replacement = 0 AS clean
      |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.StableRound
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        length(regexp_replace(col("text"), "[^\\x00-\\x7F]", ""))
          .cast("long").as("n_ascii"),
        (length(col("text")) - length(regexp_replace(col("text"),
          "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))).cast("long")
          .as("n_control"),
        (length(col("text")) - length(translate(col("text"), "\uFFFD", "")))
          .cast("long").as("n_replacement"))
      .select(col("doc_id"), col("n_chars"), col("n_ascii"),
        StableRound.r4(col("n_ascii").cast("double") / col("n_chars"))
          .as("ascii_ratio"),
        col("n_control"), col("n_replacement"),
        (col("n_control") === 0 && col("n_replacement") === 0).as("clean"))
      .orderBy("doc_id")
  }

  /** Zipf-law fit per source: regress log(term frequency) on log(rank)
    * over each source's top-500 terms. Natural text follows Zipf with
    * slope ≈ −1; a source whose slope is shallow (≫ −1) or whose fit is
    * poor (low R²) is template/machine output — a corpus-level quality
    * signal complementing the per-doc tiers (tx02/tx12/tx14). Token
    * definition shared with tx03/tx06/tx10/tx11 (space split, '' is not
    * vocabulary); rank ties broken by token so the regression inputs are
    * engine-independent.
    *
    * Scale shape: documents scanned once; the exploded token stream
    * combines map-side into per-(source, token) counts — ONE wide
    * exchange, the same volume as any unigram-count pass. The rank
    * window then runs per source over the count table (vocabulary-sized,
    * orders of magnitude smaller than the corpus), and the regression
    * folds 500 rows per source. Zipf skew on mega-tokens is absorbed by
    * the map-side combine, not a shuffle hazard. */
  val tx17ZipfFit: Q = Q(
    "tx17_zipf_fit",
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |freq AS (SELECT source, tok, count(*) AS c FROM toks
      |         WHERE tok <> '' GROUP BY 1, 2),
      |ranked AS (SELECT source, c,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY c DESC, tok) AS rk
      |  FROM freq)
      |SELECT source, count(*) AS n_terms,
      |  floor(regr_slope(ln(c), ln(rk)) * 10000 + 0.5) / 10000
      |    AS zipf_slope,
      |  floor(regr_r2(ln(c), ln(rk)) * 10000 + 0.5) / 10000 AS fit_r2
      |FROM ranked WHERE rk <= 500 GROUP BY source
      |ORDER BY source""".stripMargin) { (s, d) =>
    import graft.functions.StableRound
    val freq = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source")
      .orderBy(col("c").desc, col("tok"))
    freq.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 500)
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        StableRound.r4(regr_slope(log(col("c")), log(col("rk"))))
          .as("zipf_slope"),
        StableRound.r4(regr_r2(log(col("c")), log(col("rk"))))
          .as("fit_r2"))
      .orderBy("source")
  }

  /** Automated Readability Index per document — the readability member of
    * the quality-filter family (tx02 ratios, tx14 Gopher rules gate form;
    * ARI adds the grade-level signal curricula sort on, cf. pipe18's
    * length proxy). ARI is chosen over Flesch because its inputs are pure
    * INTEGER counts (characters, words, sentences — no syllable
    * estimation), so both engines compute the identical formula over
    * identical integers: 4.71·(chars/words) + 0.5·(words/sentences) −
    * 21.43, floor-rounded to 2 dp (house rule), with the grade band
    * derived FROM the rounded score so no float ulp can flip a bucket.
    * Terminator-less text counts as one sentence; an empty text (0 words)
    * degrades to NULL/'unscored' via nullif on both engines. Per-row
    * integer counting, zero shuffles before the final sort. */
  val tx18Readability: Q = Q(
    "tx18_readability",
    """WITH c AS (
      |  SELECT doc_id,
      |    length(replace(text, ' ', '')) AS chars,
      |    len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS words,
      |    greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
      |      x -> x <> '')), 1) AS sentences
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, chars, words, sentences,
      |    floor((4.71 * (CAST(chars AS DOUBLE) / nullif(words, 0))
      |      + 0.5 * (CAST(words AS DOUBLE) / sentences) - 21.43) * 100
      |      + 0.5) / 100 AS ari
      |  FROM c)
      |SELECT doc_id, chars, words, sentences, ari,
      |  CASE WHEN ari IS NULL THEN 'unscored'
      |       WHEN ari < 6 THEN 'elementary'
      |       WHEN ari < 10 THEN 'middle'
      |       WHEN ari < 14 THEN 'high'
      |       ELSE 'college' END AS band
      |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
    val c = Tables.documents(s, d).select(
      col("doc_id"),
      length(expr("replace(text, ' ', '')")).as("chars"),
      size(graft.functions.Shingles.ngramsCol(col("text"), 1, skipEmpty = true, distinct = false)).as("words"),
      greatest(
        size(expr("filter(split(text, '[.!?]+'), x -> x != '')")), lit(1))
        .as("sentences"))
    val sc = c.withColumn("ari", StableRound.r2(
      lit(4.71) * (col("chars").cast("double") /
        nullif(col("words"), lit(0)))
        + lit(0.5) * (col("words").cast("double") / col("sentences"))
        - lit(21.43)))
    sc.select(col("doc_id"), col("chars"), col("words"), col("sentences"),
        col("ari"),
        when(col("ari").isNull, "unscored")
          .when(col("ari") < 6, "elementary")
          .when(col("ari") < 10, "middle")
          .when(col("ari") < 14, "high")
          .otherwise("college").as("band"))
      .orderBy("doc_id")
  }

  /** Per-document TF-IDF top-5 keywords — the canonical keyword-extraction
    * / relevance-weighting operator (the corpus-level counterpart of
    * tx11's commonness: tx11 scores a doc by how COMMON its tokens are,
    * this surfaces what makes a doc DISTINCTIVE). tf = in-doc count,
    * df = docs containing the token (a window count over the already-
    * distinct (doc, token) frame — no count-distinct, no self-join),
    * idf = ln(N/df) with N a broadcast scalar. Ranking and output use the
    * floor-rounded score with a token tiebreak, so no float ulp (or libm
    * ln difference) can flip a keyword across engines.
    *
    * Scale shape: one (doc, token) exchange for tf, the df window rides a
    * token exchange over the VOCABULARY-sized count table, and the top-5
    * window (WindowGroupLimit-pruned) re-keys by doc — three exchanges,
    * each over collapsed counts, never the raw token stream twice. */
  val tx19TfidfKeywords: Q = Q(
    "tx19_tfidf_keywords",
    """WITH tok AS (
      |  SELECT doc_id, t AS token, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(list_filter(
      |          string_split(text, ' '), x -> x <> '')) AS t
      |        FROM documents)
      |  GROUP BY 1, 2),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, token, tf,
      |    floor(tf * ln(CAST(n_docs AS DOUBLE)
      |      / count(*) OVER (PARTITION BY token)) * 10000 + 0.5) / 10000
      |      AS tfidf
      |  FROM tok, n)
      |SELECT doc_id, rk, token, tf, tfidf FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY tfidf DESC, token) AS rk
      |  FROM scored) WHERE rk <= 5
      |ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
    val docsDf = Tables.documents(s, d)
    // two consumers of the collapsed (doc, token, tf) frame (the df agg
    // and the score join) → materialize it once: the corpus is scanned
    // and exploded exactly once, the repo's standard multi-consumer move
    val tok = Tables.spread(s, docsDf, "doc_id")
      .select(col("doc_id"),
        explode(graft.functions.Shingles.ngramsCol(col("text"), 1, skipEmpty = true, distinct = false)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .materialized
    val nDocs = docsDf.agg(count(lit(1)).as("n_docs"))
    // df via map-side-combined groupBy + join back (the dd11/tx11
    // skew-safe recipe) — a stop-word's |docs|-row window partition is
    // gone; the join is broadcastable (vocabulary-sized side) or
    // AQE-skew-splittable
    val dfs = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tok.join(dfs, "token").crossJoin(broadcast(nDocs))
      .withColumn("tfidf", StableRound.r4(col("tf") *
        log(col("n_docs").cast("double") / col("df"))))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("token"))))
      .filter(col("rk") <= 5)
      .select("doc_id", "rk", "token", "tf", "tfidf")
      .orderBy("doc_id", "rk")
  }

  // ---- tx20/tx21: TRAINING a real hashed linear classifier on the
  // cluster (tx15 SCORES with marked-fake weights; this TRAINS real
  // ones). Trainer: nearest-centroid / Rocchio — w = mean(positive
  // feature vector) - mean(negative), threshold at the midpoint
  // projection - the one-pass closed-form linear learner (the same
  // counting shape MLlib's NaiveBayes trains with). Teacher labels are
  // the tx14 Gopher rule gate: distilling a rule-based filter into a
  // cheap linear model over hashed token counts is exactly how
  // production quality classifiers are bootstrapped (rule/heuristic
  // pseudo-labels -> fastText-style student).
  //
  // Everything is FIXED-POINT integer: class-mean coordinates floor to
  // micro-units, the decision score is an integer dot product
  // sum_s w_s * (x_s * 1e6 - mid_s) - no exp/ln anywhere, so the
  // distributed training AND inference are bit-exact across engines,
  // partitionings, and cluster sizes. Scale shape: training is ONE
  // map-side-combined (slot) aggregation (16 groups) + a <= 16-row
  // driver collect for the literal weights; inference is in-row.
  // Measured at sf0.01: 94.6% train-fit accuracy vs a 52.8% base rate.

  private val TrainSlots = 16
  private val Micro = 1000000L

  /** (doc_id, y, xv): y = the Gopher-gate teacher verdict, xv = raw
    * hashed token counts (tx15's md5-slot convention, mod 16). */
  private def trainFeats(s: SparkSession, d: String): DataFrame =
    withGopherMetrics(Tables.spread(s, Tables.documents(s, d), "doc_id"))
      .filter(size(col("l")) > 0)
      .select(col("doc_id"), gopherPassCol.cast("int").as("y"),
        // kernel form of the aggregate/transform md5-slot fold — one
        // digest + one increment per token instead of an interpreted
        // O(|l| x slots) lambda walk with a digest PER SLOT
        // (HashedCountsSpec pins the fold equality)
        graft.functions.HashedCounts.countsCol(col("l"), TrainSlots)
          .as("xv"))
      .materialized

  /** One-pass centroid training; returns (feats, w_micro, mid_micro). */
  private def trainClassifier(s: SparkSession, d: String)
      : (DataFrame, Array[Long], Array[Long]) = {
    val feats = trainFeats(s, d)
    val (w, mid) = trainFrom(feats)
    (feats, w, mid)
  }

  /** The class-sum aggregation + ≤16-row collect over an already-built
    * (y, xv) frame — factored out so tx22 can train on the SPLIT-
    * restricted frame while tx20/tx21 keep the full-corpus teacher. */
  private def trainFrom(feats: DataFrame)
      : (Array[Long], Array[Long]) = {
    val rows = feats
      .select(col("y"), posexplode(col("xv")).as(Seq("slot", "x")))
      .groupBy("slot")
      .agg(sum(when(col("y") === 1, col("x")).otherwise(0L)).as("sp"),
        sum(when(col("y") === 0, col("x")).otherwise(0L)).as("sn"),
        count(when(col("y") === 1, 1)).as("np"),
        count(when(col("y") === 0, 1)).as("nn"))
      .collect()
    val w = Array.fill(TrainSlots)(0L)
    val mid = Array.fill(TrainSlots)(0L)
    rows.foreach { r =>
      val mp = math.floor(r.getLong(1).toDouble * Micro / r.getLong(3)).toLong
      val mn = math.floor(r.getLong(2).toDouble * Micro / r.getLong(4)).toLong
      w(r.getInt(0)) = mp - mn
      mid(r.getInt(0)) = math.floor((mp + mn) / 2.0).toLong
    }
    (w, mid)
  }

  /** The integer decision score over the literal model: the doc is kept
    * when its feature vector projects past the class-midpoint along the
    * centroid-difference direction. */
  private def centroidScore(w: Array[Long], mid: Array[Long]) =
    aggregate(
      expr(s"""transform(xv, (x, i) -> element_at(W_LIT, i + 1) *
        (x * $Micro - element_at(MID_LIT, i + 1)))"""
        .replace("W_LIT", w.mkString("array(", "L,", "L)"))
        .replace("MID_LIT", mid.mkString("array(", "L,", "L)"))),
      lit(0L), (a, v) => a + v)

  /** Shared oracle CTE: feats/lab on a DENSE doc x slot grid, one-pass
    * class sums, the same floor-quantized centroid model. */
  private val centroidCte: String =
    s"""gw AS (SELECT doc_id, $tokListSql AS l, $nSymbolsSql AS n_symbols
       |  FROM documents),
       |gm AS (SELECT doc_id, l, n_symbols, $gopherMetricsSql
       |  FROM gw WHERE len(l) > 0),
       |lab AS (SELECT doc_id, l,
       |    CASE WHEN $gopherPassSql THEN 1 ELSE 0 END AS y
       |  FROM gm),
       |feats AS (SELECT doc_id,
       |    ('0x' || substr(md5(t), 1, 8))::BIGINT % $TrainSlots AS slot,
       |    count(*) AS x
       |  FROM (SELECT doc_id, unnest(l) AS t FROM lab) GROUP BY 1, 2),
       |grid AS (SELECT l.doc_id, l.y, s.slot, COALESCE(f.x, 0) AS x
       |  FROM lab l
       |  CROSS JOIN (SELECT unnest(range($TrainSlots)) AS slot) s
       |  LEFT JOIN feats f ON f.doc_id = l.doc_id AND f.slot = s.slot),
       |cls AS (SELECT count(CASE WHEN y = 1 THEN 1 END) AS np,
       |    count(CASE WHEN y = 0 THEN 1 END) AS nn FROM lab),
       |wts AS (SELECT slot, mp - mn AS w,
       |    CAST(floor((mp + mn) / 2.0) AS BIGINT) AS mid
       |  FROM (SELECT g.slot,
       |      CAST(floor(CAST(SUM(CASE WHEN g.y = 1 THEN g.x ELSE 0 END)
       |        AS DOUBLE) * $Micro / c.np) AS BIGINT) AS mp,
       |      CAST(floor(CAST(SUM(CASE WHEN g.y = 0 THEN g.x ELSE 0 END)
       |        AS DOUBLE) * $Micro / c.nn) AS BIGINT) AS mn
       |    FROM grid g CROSS JOIN cls c
       |    GROUP BY g.slot, c.np, c.nn))""".stripMargin

  /** tx22's oracle CTE: the same dense grid, but labels carry pipe02's
    * doc_id-hash split and the class sums (cls/wts) see ONLY the train
    * split — the val/test rows are genuinely held out on both engines. */
  private val centroidSplitCte: String =
    s"""gw AS (SELECT doc_id, $tokListSql AS l, $nSymbolsSql AS n_symbols
       |  FROM documents),
       |gm AS (SELECT doc_id, l, n_symbols, $gopherMetricsSql
       |  FROM gw WHERE len(l) > 0),
       |lab AS (SELECT doc_id, l,
       |    CASE WHEN $gopherPassSql THEN 1 ELSE 0 END AS y,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT *,
       |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |        % 100 AS b
       |    FROM gm)),
       |feats AS (SELECT doc_id,
       |    ('0x' || substr(md5(t), 1, 8))::BIGINT % $TrainSlots AS slot,
       |    count(*) AS x
       |  FROM (SELECT doc_id, unnest(l) AS t FROM lab) GROUP BY 1, 2),
       |grid AS (SELECT l.doc_id, l.y, l.split, s.slot,
       |    COALESCE(f.x, 0) AS x
       |  FROM lab l
       |  CROSS JOIN (SELECT unnest(range($TrainSlots)) AS slot) s
       |  LEFT JOIN feats f ON f.doc_id = l.doc_id AND f.slot = s.slot),
       |cls AS (SELECT count(CASE WHEN y = 1 THEN 1 END) AS np,
       |    count(CASE WHEN y = 0 THEN 1 END) AS nn
       |  FROM lab WHERE split = 'train'),
       |wts AS (SELECT slot, mp - mn AS w,
       |    CAST(floor((mp + mn) / 2.0) AS BIGINT) AS mid
       |  FROM (SELECT g.slot,
       |      CAST(floor(CAST(SUM(CASE WHEN g.y = 1 THEN g.x ELSE 0 END)
       |        AS DOUBLE) * $Micro / c.np) AS BIGINT) AS mp,
       |      CAST(floor(CAST(SUM(CASE WHEN g.y = 0 THEN g.x ELSE 0 END)
       |        AS DOUBLE) * $Micro / c.nn) AS BIGINT) AS mn
       |    FROM grid g CROSS JOIN cls c
       |    WHERE g.split = 'train'
       |    GROUP BY g.slot, c.np, c.nn))""".stripMargin

  val tx20TrainClassifier: Q = Q(
    "tx20_train_classifier",
    s"""WITH $centroidCte
       |SELECT slot, w AS weight_micro, mid AS midpoint_micro
       |FROM wts ORDER BY slot""".stripMargin) { (s, d) =>
    import s.implicits._
    val (_, w, mid) = trainClassifier(s, d)
    (0 until TrainSlots).map(i => (i.toLong, w(i), mid(i)))
      .toDF("slot", "weight_micro", "midpoint_micro").orderBy("slot")
  }

  /** Confusion counts + accuracy of the tx20 student against its Gopher
    * teacher ON the training corpus (a train-fit readout — pipe02's
    * split machinery is how a held-out eval would be wired). */
  val tx21ClassifierEval: Q = Q(
    "tx21_classifier_eval",
    s"""WITH $centroidCte,
       |sc AS (SELECT g.doc_id, g.y,
       |    SUM(w.w * (g.x * $Micro - w.mid)) AS score
       |  FROM grid g JOIN wts w ON w.slot = g.slot
       |  GROUP BY 1, 2),
       |pred AS (SELECT y, CASE WHEN score >= 0 THEN 1 ELSE 0 END AS yhat
       |  FROM sc)
       |SELECT count(*) AS n_docs,
       |  count(CASE WHEN y = 1 AND yhat = 1 THEN 1 END) AS tp,
       |  count(CASE WHEN y = 0 AND yhat = 1 THEN 1 END) AS fp,
       |  count(CASE WHEN y = 1 AND yhat = 0 THEN 1 END) AS fn,
       |  count(CASE WHEN y = 0 AND yhat = 0 THEN 1 END) AS tn,
       |  floor(CAST(count(CASE WHEN y = yhat THEN 1 END) AS DOUBLE)
       |    / count(*) * 10000 + 0.5) / 10000 AS accuracy
       |FROM pred""".stripMargin) { (s, d) =>
    val (feats, w, mid) = trainClassifier(s, d)
    val scored = feats
      .withColumn("yhat", (centroidScore(w, mid) >= 0L).cast("int"))
    scored.agg(
      count(lit(1)).as("n_docs"),
      count(when(col("y") === 1 && col("yhat") === 1, 1)).as("tp"),
      count(when(col("y") === 0 && col("yhat") === 1, 1)).as("fp"),
      count(when(col("y") === 1 && col("yhat") === 0, 1)).as("fn"),
      count(when(col("y") === 0 && col("yhat") === 0, 1)).as("tn"),
      StableRound.r4(count(when(col("y") === col("yhat"), 1))
        .cast("double") / count(lit(1))).as("accuracy"))
  }

  /** HELD-OUT evaluation of the distilled quality classifier: train the
    * centroid model ONLY on pipe02's train split (doc_id-hash bucket
    * < 80), then report the confusion + accuracy per split — the val/test
    * rows are the numbers a user may actually deploy on (tx21's
    * train-fit readout is an optimistic upper bound; the honest
    * discipline is the reference's own cross-check habit,
    * ref `ola/IntegrityChecksForVLDBs.sql:56-61`). Teacher labels (the
    * Gopher gate) are computable on every doc, so the eval stays fully
    * deterministic and strict-oracled. Each split row carries a Wald 95%
    * binomial interval (ci95_low/ci95_high) so small-split point
    * estimates are never read without their uncertainty — at sf0.01 the
    * test split is ~60 docs (±~9%); sf0.1's ~500-doc split tightens it
    * to ±~3% (COVERAGE.md records the measured numbers).
    *
    * Scale shape: identical to tx20/tx21 — the split column is a per-row
    * hash projection on the one materialized feature frame, training
    * aggregates only the train partitions (map-side combined, 16
    * groups), and eval is the same in-row integer dot product; nothing
    * new shuffles. */
  val tx22HeldoutEval: Q = Q(
    "tx22_heldout_eval",
    s"""WITH $centroidSplitCte,
       |sc AS (SELECT g.doc_id, g.y, g.split,
       |    SUM(w.w * (g.x * $Micro - w.mid)) AS score
       |  FROM grid g JOIN wts w ON w.slot = g.slot
       |  GROUP BY 1, 2, 3),
       |pred AS (SELECT split, y,
       |    CASE WHEN score >= 0 THEN 1 ELSE 0 END AS yhat
       |  FROM sc),
       |base AS (SELECT split, count(*) AS n_docs,
       |    count(CASE WHEN y = 1 AND yhat = 1 THEN 1 END) AS tp,
       |    count(CASE WHEN y = 0 AND yhat = 1 THEN 1 END) AS fp,
       |    count(CASE WHEN y = 1 AND yhat = 0 THEN 1 END) AS fn,
       |    count(CASE WHEN y = 0 AND yhat = 0 THEN 1 END) AS tn,
       |    CAST(count(CASE WHEN y = yhat THEN 1 END) AS DOUBLE)
       |      / count(*) AS acc_raw
       |  FROM pred GROUP BY split)
       |SELECT split, n_docs, tp, fp, fn, tn,
       |  floor(acc_raw * 10000 + 0.5) / 10000 AS accuracy,
       |  floor(greatest(0.0, acc_raw
       |      - 1.96 * sqrt(acc_raw * (1.0 - acc_raw) / n_docs))
       |    * 10000 + 0.5) / 10000 AS ci95_low,
       |  floor(least(1.0, acc_raw
       |      + 1.96 * sqrt(acc_raw * (1.0 - acc_raw) / n_docs))
       |    * 10000 + 0.5) / 10000 AS ci95_high
       |FROM base ORDER BY split""".stripMargin) { (s, d) =>
    // the split is a cheap hash projection over trainFeats' checkpoint —
    // both consumers (train agg, eval agg) re-derive it from the
    // materialized frame, nothing corpus-sized is checkpointed twice
    val feats = trainFeats(s, d)
      .withColumn("bucket", pmod(
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(100)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
    val (w, mid) = trainFrom(feats.filter(col("split") === "train"))
    // Wald 95% binomial interval next to each point estimate: at sf0.01
    // the test split is ~60 docs and the ±~9% half-width is the honest
    // context for the headline accuracy; identical IEEE arithmetic on
    // both engines (raw ratio -> 1.96·sqrt(p(1-p)/n) -> clamp -> r4).
    val half = lit(1.96) * sqrt(
      col("acc_raw") * (lit(1.0) - col("acc_raw")) / col("n_docs"))
    feats
      .withColumn("yhat", (centroidScore(w, mid) >= 0L).cast("int"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("y") === 1 && col("yhat") === 1, 1)).as("tp"),
        count(when(col("y") === 0 && col("yhat") === 1, 1)).as("fp"),
        count(when(col("y") === 1 && col("yhat") === 0, 1)).as("fn"),
        count(when(col("y") === 0 && col("yhat") === 0, 1)).as("tn"),
        (count(when(col("y") === col("yhat"), 1)).cast("double") /
          count(lit(1))).as("acc_raw"))
      .select(col("split"), col("n_docs"), col("tp"), col("fp"),
        col("fn"), col("tn"),
        StableRound.r4(col("acc_raw")).as("accuracy"),
        StableRound.r4(greatest(lit(0.0), col("acc_raw") - half))
          .as("ci95_low"),
        StableRound.r4(least(lit(1.0), col("acc_raw") + half))
          .as("ci95_high"))
      .orderBy("split")
  }

  /** The model-based quality filter running END-TO-END TRAINED — the
    * round-12 composition gap closed: tx15 scores with marked-fake
    * weights to pin the scoring SHAPE; tx20/tx22 train real integer
    * weights; this query wires them together. The integer Rocchio
    * student is trained ONLY on pipe02's train split (doc_id-hash
    * bucket < 80 — tx22's exact model, whose held-out accuracy with
    * Wald CIs tx22 reports: the val/test rows there are THIS model's
    * deployment numbers), its ≤16-slot weight/midpoint table collects
    * to the driver and broadcasts as the literal the tx15 contract
    * consumes, and every document is scored with the integer-exact
    * decision (score_micro ≥ 0 ⇒ keep) — no float ever crosses an
    * engine boundary, so the strict gate replays training AND scoring
    * bit-for-bit.
    *
    * Scale shape: training is tx20's (one map-side-combined 16-group
    * aggregation over the train partitions + a ≤16-row collect);
    * scoring is tx15's (one codegen'd counting pass + a 16-bounded
    * in-row dot against the broadcast literal); nothing new shuffles
    * but the presentation sort. */
  val tx24TrainedFilter: Q = Q(
    "tx24_trained_filter",
    s"""WITH $centroidSplitCte,
       |nt AS (SELECT doc_id, len(l) AS n_tokens FROM lab),
       |sc AS (SELECT g.doc_id,
       |    SUM(w.w * (g.x * $Micro - w.mid)) AS score
       |  FROM grid g JOIN wts w ON w.slot = g.slot GROUP BY 1)
       |SELECT s.doc_id, CAST(n.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(s.score AS BIGINT) AS score_micro,
       |  s.score >= 0 AS keep
       |FROM sc s JOIN nt n USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
    val feats = trainFeats(s, d)
      .withColumn("bucket", pmod(
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(100)))
    val (w, mid) = trainFrom(feats.filter(col("bucket") < 80))
    feats
      .select(col("doc_id"),
        // every token lands in exactly one slot, so the slot-count sum
        // IS the token count — no re-tokenization for the report column
        expr("aggregate(xv, 0L, (a, v) -> a + v)").as("n_tokens"),
        centroidScore(w, mid).as("score_micro"))
      .select(col("doc_id"), col("n_tokens"), col("score_micro"),
        (col("score_micro") >= 0L).as("keep"))
      .orderBy("doc_id")
  }

  /** Arrival-batch vocabulary drift / OOV monitor — the text-tier
    * member of the arrival family (dd16 ingests near-dup state, sim14
    * ingests the ANN index, tx23 QCs the arriving TEXT): per source,
    * what fraction of an arriving batch's token instances fall outside
    * the resident corpus's vocabulary, and how many genuinely new
    * token types arrive. A spiking OOV rate is the classic upstream
    * signal of an encoding break, a language shift, or a scraped-site
    * format change — caught per batch, before the tokens pollute a
    * tokenizer/BPE training run (tx06's consumer). Same deterministic
    * md5 arrival tag as dd16/sim13/sim14.
    *
    * Scale shape: the resident vocabulary collapses map-side to
    * distinct tokens (tx06's discipline — the shuffle carries
    * |vocab|·|tasks| partials, never the corpus); the arriving stream
    * collapses FIRST to (doc, source, token, cnt) — a composite key no
    * Zipf mega-token can skew (q23's recipe, bounding any token's rows
    * by the batch's doc count) — then left-joins the vocabulary, which
    * broadcasts while it fits (vocabularies are ~10⁷ rows at web
    * scale; beyond that: shuffle join on token, where the pre-collapse
    * plus AQE skew-split keep reducers bounded). The report is
    * |sources| rows; work is ∝ batch + one resident vocab build, which
    * the arrival pass amortizes across batches ([[OovQc.VocabStore]]
    * rebuilds it only when the resident corpus's files change). */
  val tx23ArrivalOov: Q = Q(
    "tx23_arrival_oov",
    """WITH tag AS (
      |  SELECT doc_id, source, text,
      |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
      |      ::BIGINT % 5 = 0 THEN 1 ELSE 0 END AS is_new
      |  FROM documents),
      |vocab AS (
      |  SELECT DISTINCT token FROM (
      |    SELECT unnest(string_split(text, ' ')) AS token
      |    FROM tag WHERE is_new = 0)
      |  WHERE token <> ''),
      |atok AS (
      |  SELECT doc_id, source, token, count(*) AS cnt
      |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
      |        FROM tag WHERE is_new = 1)
      |  WHERE token <> '' GROUP BY 1, 2, 3),
      |j AS (
      |  SELECT a.doc_id, a.source, a.token, a.cnt,
      |    CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM atok a LEFT JOIN vocab v USING (token))
      |SELECT source,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(sum(cnt) AS BIGINT) AS total_tokens,
      |  CAST(sum(oov * cnt) AS BIGINT) AS oov_tokens,
      |  CAST(count(DISTINCT CASE WHEN oov = 1 THEN token END) AS BIGINT)
      |    AS new_vocab,
      |  floor(CAST(sum(oov * cnt) AS DOUBLE) / nullif(sum(cnt), 0)
      |    * 10000 + 0.5) / 10000 AS oov_rate,
      |  CAST(sum(oov * cnt) AS DOUBLE) / nullif(sum(cnt), 0) > 0.05
      |    AS flagged
      |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val isNew = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(5)) === 0
    val docs = Tables.documents(s, d).select("doc_id", "source", "text")
    oovReport(docs.filter(isNew), docs.filter(!isNew))
  }

  /** The tx23 computation over EXPLICIT arriving/resident frames:
    * [[oovReportAgainst]] the resident corpus's [[vocabulary]], exactly.
    * `arriving` needs (doc_id, source, text); `resident` needs (text).
    * The composed arrival pass (scheduler.ArrivalPass) keeps the
    * vocabulary half as a persisted generation rebuilt only when the
    * resident corpus changes ([[OovQc.VocabStore]]) and reports each
    * batch against it, so the gated query covers both halves of the
    * product stage. Scale shape documented on [[tx23ArrivalOov]]. */
  def oovReport(arriving: DataFrame, resident: DataFrame): DataFrame =
    oovReportAgainst(arriving, vocabulary(resident))

  /** The distinct non-empty tokens (`token`) of `resident`'s `text`,
    * split on single spaces. */
  def vocabulary(resident: DataFrame): DataFrame =
    resident
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()

  /** Per source of `arriving`: documents (`n_docs`, distinct non-null
    * doc_ids), token instances, those outside `vocab` (a frame of
    * distinct `token`s), the distinct new tokens, the OOV rate
    * ([[StableRound.r4]]) and whether it exceeds 5 %, in `source` order.
    * A source with no token gets no row. */
  def oovReportAgainst(arriving: DataFrame, vocab: DataFrame): DataFrame = {
    val atok = arriving
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "source", "token")
      .agg(count(lit(1)).as("cnt"))
    val rateRaw = sum(col("oov") * col("cnt")).cast("double") /
      nullif(sum("cnt").cast("double"), lit(0.0))
    // no broadcast() HINT: the planner broadcasts the vocabulary while
    // it fits the threshold (PlanSpec pins that at fixture scale) and
    // falls back to a shuffle join when a web-scale vocabulary
    // outgrows it — a hard hint would override that fallback and
    // drive the driver into the 8 GB broadcast wall instead
    atok.join(vocab.select(col("token"), lit(1).as("inv")), Seq("token"),
        "left")
      .withColumn("oov", when(col("inv").isNull, 1L).otherwise(0L))
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        sum("cnt").as("total_tokens"),
        sum(col("oov") * col("cnt")).as("oov_tokens"),
        countDistinct(when(col("oov") === 1L, col("token")))
          .as("new_vocab"),
        StableRound.r4(rateRaw).as("oov_rate"),
        (rateRaw > 0.05).as("flagged"))
      .orderBy("source")
  }

  val queries: Seq[Q] = Seq(tx01LangId, tx02QualityScore, tx03TokenCount,
    tx04Fingerprint, tx05Repetition, tx06VocabTopK, tx07WinnowFingerprint,
    tx08NgramLangId, tx09PiiRedact, tx10LexicalDiversity,
    tx11TokenCommonness, tx12CharEntropy, tx13BigramLm, tx14GopherRules,
    tx15HashClassifier, tx16EncodingQc, tx17ZipfFit, tx18Readability,
    tx19TfidfKeywords, tx20TrainClassifier, tx21ClassifierEval,
    tx22HeldoutEval, tx23ArrivalOov, tx24TrainedFilter)
}
