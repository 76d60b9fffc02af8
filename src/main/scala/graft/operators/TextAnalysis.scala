package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.functions.VectorFunctions

/** Text-analysis operators for training-data curation (SURVEY §2.3
  * L8-L11). All pure codegen'd expressions over `documents` — at 100 TB
  * these are map-only stages fused into the parquet scan, no shuffle.
  */
object TextAnalysis {

  // ---- L8: language ID (stopword-hit heuristic) ----
  // Score per language = number of tokens (with multiplicity) found in
  // that language's stopword list; prediction = first language (fixed
  // en,de,es,fr,zh order) achieving the max score, 'und' when all zero.
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "y", "que", "un"),
    "fr" -> Seq("le", "les", "des", "et", "une", "est"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  def langId(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = documents.select(
      Seq(col("doc_id"), col("lang").as("actual_lang")) ++
        stopwords.map { case (l, ws) => hitCount(toks, ws).cast("long").as(s"score_$l") }: _*)
    val best = greatest(stopwords.map { case (l, _) => col(s"score_$l") }: _*)
    val pred = stopwords.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    // foldRight + otherwise chains give first-match-wins in list order
    scored.withColumn("pred_lang", pred)
  }

  val langIdSql: String = {
    def toksSql = "string_split_regex(lower(text), '\\s+')"
    val scores = stopwords.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter($toksSql, t -> list_contains($lst, t)))::BIGINT AS score_$l"
    }.mkString(",\n  ")
    val best = "greatest(" + stopwords.map { case (l, _) => s"score_$l" }.mkString(", ") + ")"
    val pred = stopwords.map { case (l, _) =>
      s"WHEN score_$l = $best AND $best > 0 THEN '$l'"
    }.mkString(" ")
    s"""WITH scored AS (SELECT doc_id, lang AS actual_lang,
  $scores
FROM documents)
SELECT *, CASE $pred ELSE 'und' END AS pred_lang FROM scored"""
  }

  // ---- L9: quality scoring ----
  // length/punct/digit/stopword ratios + a length bonus, rounded to 6
  // decimals (both engines compute the identical doubles first).
  /** The composite quality score as a reusable column — shared by
    * [[quality]], the L56 NB trainer's weak labels, and the streaming
    * web-curation twin. */
  def qualityScoreCol: Column = {
    val toks = tokens(col("text"))
    val nChars = length(col("text")).cast("double")
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double")
    val digits = (length(col("text")) -
      length(regexp_replace(col("text"), "[0-9]", ""))).cast("double")
    val stops = hitCount(toks, stopwords.head._2).cast("double")
    val nToks = size(toks).cast("double")
    round(stops / nToks - punct / nChars - digits / nChars +
      least(nChars / lit(500.0), lit(1.0)) * 0.2, 6)
  }

  def quality(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nChars = length(col("text")).cast("double")
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double")
    val digits = (length(col("text")) -
      length(regexp_replace(col("text"), "[0-9]", ""))).cast("double")
    val stops = hitCount(toks, stopwords.head._2).cast("double")
    val nToks = size(toks).cast("double")
    documents.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      round(punct / nChars, 6).as("punct_ratio"),
      round(digits / nChars, 6).as("digit_ratio"),
      round(stops / nToks, 6).as("stopword_ratio"),
      qualityScoreCol.as("quality_score"))
  }

  val qualitySql: String = {
    val lst = stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
    """WITH base AS (SELECT doc_id,
  string_split_regex(lower(text), '\s+') AS toks,
  length(text)::DOUBLE AS n_chars,
  (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE AS punct,
  (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE AS digits
FROM documents)
SELECT doc_id, len(toks)::BIGINT AS n_tokens,
  round(punct / n_chars, 6) AS punct_ratio,
  round(digits / n_chars, 6) AS digit_ratio,
  round(len(list_filter(toks, t -> list_contains(""" + lst + """, t)))::DOUBLE / len(toks), 6) AS stopword_ratio,
  round(len(list_filter(toks, t -> list_contains(""" + lst + """, t)))::DOUBLE / len(toks)
        - punct / n_chars - digits / n_chars
        + least(n_chars / 500.0, 1.0) * 0.2, 6) AS quality_score
FROM base"""
  }

  /** The quality score as a standalone SQL expression over `text` —
    * shared by the L56 and L60 oracles (mirror of [[qualityScoreCol]];
    * declared before both). */
  private[operators] val qualityScoreSqlExpr: String = {
    val lst = stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""round(len(list_filter(string_split_regex(lower(text), '\\s+'),
                        t -> list_contains($lst, t)))::DOUBLE
          / len(string_split_regex(lower(text), '\\s+'))
        - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)
        - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text)
        + least(length(text)::DOUBLE / 500.0, 1.0) * 0.2, 6)"""
  }

  // ---- L10: token counting (whitespace + BPE-ish regex) ----
  private val bpeish = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  def tokenCount(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_m"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      regexp_count(col("text"), lit(bpeish)).cast("long").as("bpe_tokens"))

  val tokenCountSql: String =
    s"""SELECT doc_id, length(text)::BIGINT AS n_chars_m,
  len(string_split_regex(lower(text), '\\s+'))::BIGINT AS ws_tokens,
  len(regexp_extract_all(text, '$bpeish'))::BIGINT AS bpe_tokens
FROM documents"""

  // ---- L121 (r10): context-length truncation loss ----
  // The sequence-length budgeting readout every pretraining run does
  // before fixing its context length: at L ∈ {128, 512, 2048}, what
  // fraction of each source's tokens falls off the end of truncated
  // documents, and how many documents truncate at all? (The complement
  // of L27/L78's packing: packing decides how kept tokens tile into
  // batches; this decides what "kept" costs.) ENTIRELY integer: per-doc
  // whitespace token counts (the L10 counter), min(n, L) kept, loss as
  // exact ppm div. One map-side count fused into the scan, a declared
  // 3-row broadcast grid fan-out, one (source, ctx) aggregate.
  def truncationLoss(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val grid = Seq(128L, 512L, 2048L).toDF("ctx")
    documents
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
      .crossJoin(broadcast(grid))
      .groupBy(col("source"), col("ctx"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(least(col("n"), col("ctx"))).as("kept_tokens"),
        sum((col("n") > col("ctx")).cast("long")).as("n_truncated"))
      .select(col("source"), col("ctx"), col("n_docs"), col("total_tokens"),
        col("kept_tokens"), col("n_truncated"),
        expr("((total_tokens - kept_tokens) * 1000000L) div total_tokens")
          .as("loss_ppm"))
  }

  val truncationLossSql: String =
    """WITH n AS (
  SELECT source, len(string_split_regex(lower(text), '\s+'))::BIGINT AS n
  FROM documents),
grid AS (SELECT unnest([128, 512, 2048])::BIGINT AS ctx),
agg AS (
  SELECT source, ctx, count(*)::BIGINT AS n_docs,
    sum(n)::BIGINT AS total_tokens,
    sum(least(n, ctx))::BIGINT AS kept_tokens,
    sum((n > ctx)::INT)::BIGINT AS n_truncated
  FROM n CROSS JOIN grid GROUP BY source, ctx)
SELECT source, ctx, n_docs, total_tokens, kept_tokens, n_truncated,
  (((total_tokens - kept_tokens) * 1000000) // total_tokens)::BIGINT AS loss_ppm
FROM agg"""

  // ---- L122 (r10): lexical diversity — type/token + hapax rates ----
  // The corpus-health scalar pair beside L88's Zipf fit: type-token
  // ratio (vocabulary breadth per token — synthetic/templated text
  // reads low) and hapax share (fraction of the vocabulary seen
  // exactly once — boilerplate-heavy corpora read low, OCR-noise
  // corpora read high). Per source, ALL-INTEGER (counts + exact ppm
  // divs). One token explode, one (source, token) aggregate, one
  // (source) rollup — frames shrink monotonically.
  def lexicalDiversity(documents: DataFrame): DataFrame = {
    val tf = documents
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .where(length(col("t")) > 0)
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
    // n_doubletons funds the Chao1 richness estimate
    // V + h1²/(2·h2) (how much vocabulary remains UNSEEN — the
    // "is more data worth crawling" readout); the estimate itself is
    // spec-pinned (its magnitude can exceed the round-6 safe band,
    // the C103 lesson) — the exact h1/h2 surface is hashed.
    tf.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum((col("c") === 1).cast("long")).as("n_hapax"),
        sum((col("c") === 2).cast("long")).as("n_doubletons"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        col("n_doubletons"),
        expr("(n_types * 1000000L) div n_tokens").as("ttr_ppm"),
        expr("(n_hapax * 1000000L) div n_types").as("hapax_ppm"))
  }

  val lexicalDiversitySql: String =
    """WITH tok AS (
  SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS t
  FROM documents),
tf AS (SELECT source, t, count(*)::BIGINT AS c FROM tok
  WHERE length(t) > 0 GROUP BY source, t),
agg AS (
  SELECT source, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
    sum((c = 1)::INT)::BIGINT AS n_hapax,
    sum((c = 2)::INT)::BIGINT AS n_doubletons
  FROM tf GROUP BY source)
SELECT source, n_tokens, n_types, n_hapax, n_doubletons,
  ((n_types * 1000000) // n_tokens)::BIGINT AS ttr_ppm,
  ((n_hapax * 1000000) // n_types)::BIGINT AS hapax_ppm
FROM agg"""

  // ---- L128 (r10): head coverage — vocabulary size for 90% of tokens ----
  // The tokenizer-design readout L35 (top-V vocab) presumes an answer
  // to: HOW MANY types does it take to cover 90% of a source's token
  // mass? A heavy head (tiny V covers most tokens) says a small vocab
  // suffices and the tail is OOV-able (L47's rate stays low); a flat
  // curve says the source needs subword coverage. Exact integer
  // decision: the cumulative window runs over the POST-AGGREGATE
  // per-source term frame ((count DESC, token) total order —
  // vocab-bounded per source, the C99 ABC machinery on text), the
  // 90% boundary is the cross-multiplied predicate cum·10 ≥ total·9
  // (no float in a predicate), and the released number is the FIRST
  // rank crossing it.
  def vocabCoverage(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .where(length(col("t")) > 0)
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("c").desc, col("t"))
    val tot = Window.partitionBy(col("source"))
    tf.withColumn("rk", row_number().over(w))
      .withColumn("cum", sum(col("c")).over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
      .withColumn("total", sum(col("c")).over(tot))
      .withColumn("n_types", count(lit(1)).over(tot))
      .where(col("cum") * 10 >= col("total") * 9)
      .groupBy(col("source"), col("total"), col("n_types"))
      .agg(min(col("rk")).as("types_for_90pct"))
      .select(col("source"), col("n_types"), col("total").as("n_tokens"),
        col("types_for_90pct"),
        expr("(types_for_90pct * 1000000L) div n_types").as("head_share_ppm"))
  }

  val vocabCoverageSql: String =
    """WITH tok AS (
  SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS t
  FROM documents),
tf AS (SELECT source, t, count(*)::BIGINT AS c FROM tok
  WHERE length(t) > 0 GROUP BY source, t),
rk AS (
  SELECT source, c,
    row_number() OVER (PARTITION BY source ORDER BY c DESC, t) AS rk,
    sum(c) OVER (PARTITION BY source ORDER BY c DESC, t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
    sum(c) OVER (PARTITION BY source)::BIGINT AS total,
    count(*) OVER (PARTITION BY source)::BIGINT AS n_types
  FROM tf),
x AS (
  SELECT source, total, n_types, min(rk)::BIGINT AS types_for_90pct
  FROM rk WHERE cum * 10 >= total * 9
  GROUP BY 1, 2, 3)
SELECT source, n_types, total AS n_tokens, types_for_90pct,
  ((types_for_90pct * 1000000) // n_types)::BIGINT AS head_share_ppm
FROM x"""

  // ---- L33: real BPE encoding (greedy merge-rule tokenization) ----
  // The actual BPE inference loop over [[graft.functions.Bpe.Merges]]
  // — L10's regex count stays as the cheap proxy; this is the real
  // algorithm a token-budgeted pipeline runs. Words = [a-z]+ runs
  // (both engines agree bit-for-bit on that split); each word encodes
  // independently (map-only — the corpus never shuffles; one (doc)
  // exchange of small aggregates). The oracle replays the SAME greedy
  // loop as a recursive CTE: token state carried as a list, best rank
  // via an inline CASE over the merges table, merge-all via two
  // replace() passes on a '|'-joined token string ('|' can't occur
  // inside [a-z]+ tokens; two passes provably merge every
  // leftmost-nonoverlapping occurrence — see Bpe.encode's scaladoc).
  // bpe_md5 hashes every token of every word in order, so one wrong
  // merge anywhere in the corpus fails the gate.
  def bpeEncode(documents: DataFrame): DataFrame =
    bpeEncodeWith(documents, graft.functions.Bpe.MergesIdx)

  /** Shared WITH-RECURSIVE body replaying graft_bpe's greedy loop per
    * (doc, word): `fin` holds (doc_id, wi, e, n_toks). Reused by
    * [[bpeEncodeSql]] and Packing.packSequencesBpeSql (L27's
    * token-exact twin budgets by these counts). */
  private[operators] val bpeFinCtes: String = {
    import graft.functions.Bpe.Merges
    // CASE arms generated from the SAME Scala merges table
    def pairRank(a: String, b: String): String = Merges.zipWithIndex.map {
      case ((x, y), r) => s"WHEN $a = '$x' AND $b = '$y' THEN $r"
    }.mkString("CASE ", " ", " END")
    val patCases = Merges.zipWithIndex.map {
      case ((x, y), r) => s"WHEN $r THEN '|$x|$y|'"
    }.mkString("CASE best ", " ", " END")
    val repCases = Merges.zipWithIndex.map {
      case ((x, y), r) => s"WHEN $r THEN '|$x$y|'"
    }.mkString("CASE best ", " ", " END")
    val bestExpr =
      s"list_min(list_transform(generate_series(1, len(toks) - 1), i -> ${pairRank("toks[i]", "toks[i+1]")}))"
    s"""wd AS (SELECT doc_id, i AS wi, ws[i] AS word
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
       unnest(generate_series(1, len(ws))) AS g(i)),
init AS (SELECT doc_id, wi,
  list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)) AS toks FROM wd),
enc AS (
  SELECT doc_id, wi, toks FROM init
  UNION ALL
  SELECT doc_id, wi,
    string_split(trim(replace(replace(s, pat, rep), pat, rep), '|'), '|') AS toks
  FROM (
    SELECT doc_id, wi,
      '|' || array_to_string(toks, '|') || '|' AS s,
      $patCases AS pat,
      $repCases AS rep
    FROM (SELECT doc_id, wi, toks, $bestExpr AS best FROM enc) b
    WHERE best IS NOT NULL) m),
fin AS (SELECT doc_id, wi, array_to_string(toks, '|') AS e, len(toks) AS n_toks
  FROM enc WHERE $bestExpr IS NULL)"""
  }

  val bpeEncodeSql: String =
    s"""WITH RECURSIVE
$bpeFinCtes
SELECT doc_id, count(*)::BIGINT AS n_words, sum(n_toks)::BIGINT AS n_bpe_tokens,
  md5(string_agg(e, ' ' ORDER BY wi)) AS bpe_md5
FROM fin GROUP BY doc_id"""

  /** L71 oracle: `fin`'s encoded word `e` rebuilds its source word by
    * dropping the '|' separators, so chars = length(e) − (n_toks−1). */
  val tokenizerFertilitySql: String = {
    def toksSql = "string_split_regex(lower(text), '\\s+')"
    val scores = stopwords.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter($toksSql, t -> list_contains($lst, t)))::BIGINT AS score_$l"
    }.mkString(",\n  ")
    val best = "greatest(" + stopwords.map { case (l, _) => s"score_$l" }.mkString(", ") + ")"
    val pred = stopwords.map { case (l, _) =>
      s"WHEN score_$l = $best AND $best > 0 THEN '$l'"
    }.mkString(" ")
    s"""WITH RECURSIVE
$bpeFinCtes,
lang AS (SELECT doc_id, CASE $pred ELSE 'und' END AS pred_lang
  FROM (SELECT doc_id, $scores FROM documents) scored),
pd AS (SELECT doc_id, sum(n_toks)::BIGINT AS t,
    sum(length(e) - (n_toks - 1))::BIGINT AS c
  FROM fin GROUP BY doc_id),
pl AS (SELECT pred_lang, count(*)::BIGINT AS n_docs, sum(t)::BIGINT AS bpe_tokens,
    sum(c)::BIGINT AS chars
  FROM pd JOIN lang USING (doc_id) GROUP BY pred_lang)
SELECT pred_lang, n_docs, bpe_tokens, chars,
  round(100.0 * bpe_tokens / chars, 6) AS fertility
FROM pl"""
  }

  // ---- L71 (r6): tokenizer fertility by language ----
  // The standard tokenizer-evaluation metric (fertility = subword
  // tokens per unit of text, reported per language — how multilingual
  // tokenizer studies expose vocabulary bias: languages far from the
  // merge-table's training mix fragment into more tokens per
  // character). Composes L8's language ID with L33's real BPE: per
  // PREDICTED language, BPE tokens per 100 alphabetic chars over the
  // same [a-z]+ word stream graft_bpe encodes. Scale shape: pred_lang
  // rides the row through a single-element-explode Generate barrier
  // (the L56 lesson — without it the O(|doc|) lang score recomputes
  // per WORD), then one (lang, doc) aggregate with map-side partials
  // and a lang-cardinality rollup — no joins, the corpus is scanned
  // once. Portability: all sums are exact BIGINTs; the one division
  // happens per language at the end (IEEE + round 6).
  def tokenizerFertility(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = documents.select(
      Seq(col("doc_id"), col("text")) ++
        stopwords.map { case (l, ws) => hitCount(toks, ws).cast("long").as(s"score_$l") }: _*)
    val best = greatest(stopwords.map { case (l, _) => col(s"score_$l") }: _*)
    val pred = stopwords.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    // Generate barrier: pred_lang + the word array materialize once
    // per doc before the per-word explode
    val words = scored
      .select(col("doc_id"), explode(array(struct(pred.as("pl"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws")))).as("s"))
      .select(col("doc_id"), col("s.pl").as("pred_lang"), explode(col("s.ws")).as("word"))
    words
      .select(col("pred_lang"), col("doc_id"),
        size(VectorFunctions.bpe(col("word"))).cast("long").as("t"),
        length(col("word")).cast("long").as("c"))
      .groupBy(col("pred_lang"), col("doc_id"))
      .agg(sum(col("t")).as("t"), sum(col("c")).as("c"))
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("bpe_tokens"),
        sum(col("c")).as("chars"))
      .withColumn("fertility",
        round(lit(100.0) * col("bpe_tokens") / col("chars"), 6))
  }

  // ---- L33t: BPE merge TRAINING (r6 — the learning half of L33) ----
  // Sennrich et al. 2016's training loop: from the corpus word-type
  // table (word, freq), repeatedly (1) count every adjacent token pair
  // across types weighted by type frequency, (2) pick the most
  // frequent pair (ties: lhs asc, rhs asc — a total order, both
  // engines byte-compare [a-z] strings), (3) merge all its
  // leftmost-nonoverlapping occurrences in every type, for a FIXED
  // budget of rounds — the PageRank wave pattern: one bounded driver
  // collect (the single argmax row) plus one localCheckpoint per
  // round to cut lineage.
  //
  // Scale shape: training state is the word-TYPE table, never the
  // corpus — one corpus-wide (word) aggregate up front collapses
  // 100 TB to a vocab-bounded frame, capped at `maxWordTypes` by the
  // deterministic (freq desc, word asc) order so the state is bounded
  // BY CONTRACT (the cap is the training-set definition, mirrored in
  // the oracle bit-for-bit). Each round is one pair-count aggregate
  // over that small frame + a map-only two-pass replace (the same
  // provably-leftmost merge machinery as Bpe.encode's oracle).
  // The oracle replays the identical recurrence as a FIXED UNROLL of
  // chained CTEs (p_k -> b_k -> s_k), not recursion — a global argmax
  // per round is an aggregate over the previous iterate, which
  // recursive SQL disallows; the unroll IS the fixed budget.
  private val BpeTrainRounds = 16
  private val BpeTrainTypeCap = 4096

  def bpeTrain(documents: DataFrame, nMerges: Int = BpeTrainRounds,
      maxWordTypes: Int = BpeTrainTypeCap): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val types = documents
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc).limit(maxWordTypes)
    // r13 (guide §1.2/§5, the pcaPower bounded-model-state precedent):
    // training state is the CAPPED type table — ≤ maxWordTypes rows BY
    // CONTRACT (the cap is the training-set definition), so after the
    // one distributed aggregate + top-cap the greedy recurrence is
    // driver-side work on ~4096 short strings. The old shape ran 16
    // rounds × (pair-count job + localCheckpoint job) ≈ 33 Spark jobs
    // of pure scheduling floor over a 4096-row frame. The replay below
    // is operation-for-operation the old distributed loop: the SAME
    // '|'-joined state strings, the SAME two-pass replace merge, pair
    // counts from the SAME split/adjacent-pair walk, argmax by
    // (f DESC, a ASC, b ASC) — [a-z] strings, so Java compareTo ==
    // UTF8String binary order. Parity is spec-pinned against the
    // retained distributed reference (bpeTrainDistributed).
    val collected = types.collect().map(r => (r.getString(0), r.getLong(1)))
    var state: Array[(String, Long)] = collected.map { case (w, f) =>
      (w.toCharArray.mkString("|"), f)
    }
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      state.foreach { case (s, f) =>
        val t = s.split("\\|")
        if (t.length >= 2) {
          var i = 0
          while (i < t.length - 1) {
            val k = (t(i), t(i + 1))
            counts(k) = counts.getOrElse(k, 0L) + f
            i += 1
          }
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), f) = counts.minBy { case ((a, b), f) => (-f, a, b) }
        learned += ((r.toLong, a, b, f))
        val pat = s"|$a|$b|"; val rep = s"|$a$b|"
        state = state.map { case (s, fr) =>
          val merged = ("|" + s + "|").replace(pat, rep).replace(pat, rep)
          (merged.substring(1, merged.length - 1), fr)
        }
        r += 1
      }
    }
    learned.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_freq")
  }

  /** The pre-r13 distributed bpeTrain loop, retained as the parity
    * reference for the driver replay above (and the shape a corpus
    * whose TYPE TABLE exceeded driver memory would revert to — not
    * possible under the maxWordTypes cap, which is the declared
    * training-set contract). */
  private[graft] def bpeTrainDistributed(documents: DataFrame,
      nMerges: Int = BpeTrainRounds,
      maxWordTypes: Int = BpeTrainTypeCap): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val types = documents
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc).limit(maxWordTypes)
    var state = types
      .select(array_join(
        expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))"),
        "|").as("s"), col("freq"))
      .localCheckpoint()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      // Spark's sequence(1, n) counts DOWN for n < 1 — guard 1-token
      // types out before the pair explode (DuckDB's generate_series
      // is simply empty there)
      val top = state
        .select(col("freq"), split(col("s"), "\\|").as("t"))
        .where(size(col("t")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("f"))
        .orderBy(col("f").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((r.toLong, a, b, f))
        val pat = lit(s"|$a|$b|"); val rep = lit(s"|$a$b|")
        state = state.select(
          trim(replace(replace(concat(lit("|"), col("s"), lit("|")), pat, rep), pat, rep),
            "|").as("s"),
          col("freq")).localCheckpoint()
        r += 1
      }
    }
    learned.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_freq")
  }

  /** Unrolled replay of the same greedy recurrence: R chained
    * (pair-count → argmax → merge) stages over the identical capped
    * type table, two-pass replace and all. Every stage is
    * MATERIALIZED: s_k references s_(k-1) twice, so default CTE
    * inlining would expand the chain 2^R-fold. */
  val bpeTrainSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH
w AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents) t
  GROUP BY word ORDER BY freq DESC, word LIMIT $BpeTrainTypeCap),
s0 AS MATERIALIZED (SELECT array_to_string(list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)), '|') AS s, freq FROM w)"""
    for (k <- 1 to BpeTrainRounds) {
      val p = k - 1
      sb ++= s""",
p$k AS (SELECT t[i] AS a, t[i+1] AS b, sum(freq)::BIGINT AS f
  FROM (SELECT string_split(s, '|') AS t, freq FROM s$p) x,
       unnest(generate_series(1, len(t) - 1)) AS g(i)
  GROUP BY 1, 2),
b$k AS MATERIALIZED (SELECT a, b, f FROM p$k ORDER BY f DESC, a, b LIMIT 1),
s$k AS MATERIALIZED (SELECT trim(replace(replace('|' || s || '|', '|'||a||'|'||b||'|', '|'||a||b||'|'), '|'||a||'|'||b||'|', '|'||a||b||'|'), '|') AS s, freq
  FROM s$p, b$k)"""
    }
    sb ++= (1 to BpeTrainRounds)
      .map(k => s"SELECT ${k - 1}::BIGINT AS merge_rank, a AS lhs, b AS rhs, f AS pair_freq FROM b$k")
      .mkString("\n", "\nUNION ALL\n", "")
    sb.toString
  }

  /** L33 inference with a LEARNED merges table — the seam end-to-end:
    * the table rides with the plan as BpeEncode's constructor state;
    * [[bpeEncode]] is this plan over the default table. */
  def bpeEncodeWith(documents: DataFrame,
      merges: IndexedSeq[(String, String)]): DataFrame = {
    val words = documents
      .select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")))
      .toDF("doc_id", "wi", "word")
    words
      .select(col("doc_id"), col("wi"), VectorFunctions.bpe(col("word"), merges).as("toks"))
      .select(col("doc_id"), col("wi"),
        size(col("toks")).cast("long").as("n_toks"),
        array_join(col("toks"), "|").as("enc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_bpe_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("wi"), col("enc")))),
          x => x.getField("enc")), " ")).as("bpe_md5"))
  }

  // ---- L35: top-V vocabulary construction (tokenizer-training shape) ----
  // The frequency-ranked vocab every tokenizer/embedding-table build
  // starts from: corpus-wide token counts (stopwords INCLUDED — a
  // vocab wants them), the V most frequent kept, ids assigned densely
  // in (freq DESC, token ASC) order so the token→id mapping is total,
  // deterministic, and engine-identical even across count ties at the
  // V boundary. Scale shape: the corpus collapses to the vocab table
  // via one partial-aggregated token shuffle (termFreq's plan); the
  // top-V cut then runs as TakeOrderedAndProject — per-partition V-row
  // heaps merged on one task, never a full vocab sort (plan-asserted);
  // the final id window touches exactly V rows. V is small here so the
  // sf0.01 boundary is actually exercised; a real 10^5-row vocab
  // changes only the constant.
  private val VocabSize = 24

  def buildVocab(documents: DataFrame): DataFrame = {
    val tf = documents
      .select(explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token").asc)
    tf.orderBy(col("freq").desc, col("token").asc).limit(VocabSize)
      .withColumn("token_id", (row_number().over(w) - 1).cast("long"))
  }

  val buildVocabSql: String =
    s"""SELECT token, freq, token_id FROM (
  SELECT token, freq,
         (row_number() OVER (ORDER BY freq DESC, token ASC) - 1)::BIGINT AS token_id
  FROM (SELECT token, count(*) AS freq FROM (
          SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents)
        WHERE length(token) > 0 GROUP BY token))
WHERE token_id < $VocabSize"""

  // ---- L47: vocabulary coverage / OOV rate ----
  // The tokenizer-coverage metric run before committing to a vocab:
  // per document, the fraction of token OCCURRENCES outside the top-V
  // vocabulary (L35's construction, composed verbatim — the curation
  // pattern). The vocab is V-sized BY CONSTRUCTION, so broadcasting it
  // is legitimate at any corpus scale (unlike the full token table —
  // the tfidf rule); the corpus side is one map-side explode + left
  // semi-ish membership flag + a (doc) aggregate. oov_rate is an
  // exact integer ratio rounded to 6 — cross-engine identical.
  def oovRate(documents: DataFrame): DataFrame = {
    val vocab = buildVocab(documents).select(col("token"), lit(1L).as("in_v"))
    documents.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
  }

  val oovRateSql: String =
    s"""WITH vocab AS (SELECT token FROM ($buildVocabSql)),
tok AS (
  SELECT doc_id, token
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents)
  WHERE length(token) > 0)
SELECT t.doc_id, count(*) AS n_tokens,
  sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
  round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS oov_rate
FROM tok t LEFT JOIN vocab v ON v.token = t.token
GROUP BY t.doc_id"""

  // ---- L41: count-min sketch frequency estimation (verified) ----
  // Approximate per-token frequency in O(d·w) memory regardless of
  // vocabulary size — the frequency tool once the vocab no longer fits
  // an exact hash table (web-scale token/URL/host counting). d=4 rows
  // × w=1024 columns of counters; est(t) = min over rows of
  // counter[j][h_j(t)], which can only OVERestimate (collisions add,
  // never subtract) by at most ~N/w per colliding row. Plan: tokens
  // collapse to per-token counts first (one partial-agged shuffle —
  // never d× the token stream), the d·w cell grid aggregates from
  // per-token rows (tiny second shuffle), estimates come from a cell
  // join on (row, idx). The query returns the top-V tokens' exact
  // count next to their CMS estimate, so the oracle hash-proves the
  // sketch arithmetic end-to-end and the spec checks the one-sided
  // error bound. Hashes are md5-derived — deterministic, portable.
  private val CmsD = 4
  private val CmsW = 1024L

  def cmsFrequencies(documents: DataFrame): DataFrame = {
    val tf = documents
      .select(explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val keyed = tf.select(col("token"), col("freq"),
      explode(array((0 until CmsD).map(j => struct(lit(j.toLong).as("j"),
        pmod(md5Long(lit(s"cm$j"), col("token")), lit(CmsW)).as("idx"))): _*)).as("k"))
      .select(col("token"), col("freq"), col("k.j").as("j"), col("k.idx").as("idx"))
    val cells = keyed.groupBy(col("j"), col("idx")).agg(sum(col("freq")).as("cell"))
    val top = tf.orderBy(col("freq").desc, col("token").asc).limit(VocabSize)
    top.select(col("token"), col("freq"),
        explode(array((0 until CmsD).map(j => struct(lit(j.toLong).as("j"),
          pmod(md5Long(lit(s"cm$j"), col("token")), lit(CmsW)).as("idx"))): _*)).as("k"))
      .select(col("token"), col("freq"), col("k.j").as("j"), col("k.idx").as("idx"))
      .join(cells, Seq("j", "idx"))
      .groupBy(col("token"))
      .agg(max(col("freq")).as("freq"), min(col("cell")).as("cms_est"))
  }

  val cmsFrequenciesSql: String = {
    val hashes = (0 until CmsD).map(j =>
      s"SELECT $j AS j, ${md5LongSql(s"'cm$j'", "token")} % $CmsW AS idx, token FROM tf")
      .mkString("\n  UNION ALL ")
    s"""WITH tf AS (
  SELECT token, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents)
  WHERE length(token) > 0 GROUP BY token),
keyed AS (
  $hashes),
cells AS (
  SELECT j, idx, sum(f.freq)::BIGINT AS cell
  FROM keyed k JOIN tf f USING (token) GROUP BY j, idx),
top AS (SELECT token, freq FROM tf ORDER BY freq DESC, token ASC LIMIT $VocabSize)
SELECT t.token, max(t.freq) AS freq, min(c.cell) AS cms_est
FROM top t JOIN keyed k USING (token) JOIN cells c ON c.j = k.j AND c.idx = k.idx
GROUP BY t.token"""
  }

  // ---- L43: heavy hitters via Misra–Gries (verified candidates) ----
  // The deterministic counter twin of the count-min sketch (L41):
  // find every token above a frequency threshold WITHOUT a full-
  // vocabulary table. Pass 1 streams all tokens through the mergeable
  // [[graft.functions.MisraGriesAggregator]] (cap+ε counters per map
  // task, one tiny summary per task across the exchange) and counts N
  // in the same aggregate; the MG bound guarantees the candidate set
  // covers every token with freq > N/(cap+1) under any partitioning.
  // Pass 2 broadcast-joins the ≤cap candidates against the token
  // stream and exact-counts ONLY those — so the final filter
  // (freq·64 > N, a 4× safety margin over the N/256 sketch bound) is
  // deterministic and the oracle is plain exact SQL, even though the
  // intermediate counter values are partitioning-dependent. At 100 TB:
  // two map-only passes over the corpus plus two bounded shuffles —
  // the vocabulary never materializes.
  private val MgCap = 255
  private val HhDenom = 64L

  def heavyHitters(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val tok = documents
      .select(explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
    val sketch = tok.as[String]
      .groupByKey(_ => 0)
      .agg(new graft.functions.MisraGriesAggregator(MgCap).toColumn)
    val cands = sketch.flatMap { case (_, (cs, n)) => cs.iterator.map(c => (c, n)) }
      .toDF("token", "n_total")
    tok.join(broadcast(cands), Seq("token"))
      .groupBy(col("token"), col("n_total"))
      .agg(count(lit(1)).as("freq"))
      .where(col("freq") * HhDenom > col("n_total"))
      .select(col("token"), col("freq"), col("n_total"))
  }

  val heavyHittersSql: String =
    s"""WITH tok AS (
  SELECT token FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents)
  WHERE length(token) > 0),
n AS (SELECT count(*) AS total FROM tok)
SELECT token, count(*)::BIGINT AS freq, (SELECT total FROM n)::BIGINT AS n_total
FROM tok GROUP BY token HAVING count(*) * $HhDenom > (SELECT total FROM n)"""

  // ---- L11: document fingerprinting (winnowing) ----
  // k-gram (k=5) rolling hashes, window w=4 minima, distinct — the
  // classic winnowing fingerprint, md5-portable. Map-only at scale;
  // output is (doc_id, fingerprint) for downstream index joins.
  def fingerprint(documents: DataFrame): DataFrame = {
    // One-pass winnowing per row via the custom Winnow expression: the
    // relational shape (explode positions -> groupBy(doc, window) min
    // -> distinct) needs two shuffles of 4x-duplicated hash rows; this
    // is map-only with identical output (and identical to the oracle).
    documents
      .where(length(col("text")) >= 8)
      .select(col("doc_id"), explode(VectorFunctions.winnow(col("text"))).as("fp"))
  }

  // ---- L13: term frequencies over normalized text (the canonical
  // wordcount, with stopword removal) ----
  // Map-side: tokenize + filter fused into the scan; one shuffle on the
  // token. At 100 TB this is the classic skew case — the partial
  // aggregate absorbs hot tokens before the exchange.
  def termFreq(documents: DataFrame): DataFrame = {
    val stops = stopwords.flatMap(_._2)
    documents
      .select(explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0 && !col("token").isInCollection(stops))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
  }

  val termFreqSql: String = {
    val lst = stopwords.flatMap(_._2).map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT token, count(*) AS freq FROM (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents)
WHERE length(token) > 0 AND NOT list_contains($lst, token)
GROUP BY token"""
  }

  // ---- L117 (r9): binless lexical drift — exact TV + Hellinger ----
  // The lexical twin of C65's PSI (binned, misses within-bin shifts)
  // and L84's embedding drift: how far each source's TERM distribution
  // sits from the rest of the corpus. Two binless distances, chosen
  // for cross-engine exactness — NO transcendental ever runs (the JSD
  // alternative needs log, a libm call with no bit-exactness
  // guarantee; sqrt IS correctly-rounded IEEE on both engines):
  //   TV  = ½ Σ_t |p_t − q_t|  — FULLY integer until one division:
  //         numerator Σ|c_s·N_r − c_r·N_s| in DECIMAL(38,0) over the
  //         common denominator N_s·N_r,
  //   Hellinger = √(1 − Σ_t √(p_t·q_t)) — per-term Bhattacharyya
  //         coefficients quantized DECIMAL(18,9) BEFORE summation
  //         (the C98 order-free discipline), clamped at 0 for the
  //         identical-distribution quantization edge.
  // q is the LEAVE-ONE-OUT rest-of-corpus (c_a − c_s over N_a − N_s),
  // so a dominant source can't mask its own drift. Plan: one token
  // explode, three partial-agged aggregates, the source×vocab grid is
  // a declared |sources|-row broadcast fan-out over the POST-AGGREGATE
  // term frame (the q_kmv_overlap pattern), never the corpus.
  def tvDrift(documents: DataFrame): DataFrame = {
    val stops = stopwords.flatMap(_._2)
    val d38 = "decimal(38,0)"
    val tok = documents
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0 && !col("token").isInCollection(stops))
    val st = tok.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).cast(d38).as("c"))
    val tt = tok.groupBy(col("token")).agg(count(lit(1)).cast(d38).as("ca"))
    val ns = tok.groupBy(col("source")).agg(count(lit(1)).cast(d38).as("ns"))
    val na = tok.agg(count(lit(1)).cast(d38).as("na"))
    val grid = tt.crossJoin(broadcast(ns)).crossJoin(broadcast(na))
      .join(st, Seq("source", "token"), "left")
      .select(col("source"), col("ns"), col("na"), col("ca"),
        coalesce(col("c"), lit(0).cast(d38)).as("c"))
    // r10 (ADVICE r9): a single-source corpus makes na = ns and every
    // denominator 0 → engine-dependent NaN/Inf; such a source has no
    // rest-of-corpus to drift FROM, so it is excluded outright (the
    // WHERE form — deterministic in both engines, no NaN ever built)
    val terms = grid.where(col("na") =!= col("ns"))
      .select(col("source"), col("ns"), col("na"),
      abs(col("c") * (col("na") - col("ns")) - (col("ca") - col("c")) * col("ns")).as("tvn"),
      sqrt((col("c") * (col("ca") - col("c"))).cast("double") /
        (col("ns") * (col("na") - col("ns"))).cast("double"))
        .cast("decimal(18,9)").as("bc"))
    terms.groupBy(col("source"), col("ns"), col("na"))
      .agg(sum(col("tvn")).as("tvnum"), sum(col("bc")).as("bcs"))
      .select(col("source"), col("ns").cast("long").as("n_tokens"),
        round(col("tvnum").cast("double") /
          (lit(2).cast(d38) * col("ns") * (col("na") - col("ns"))).cast("double"), 6).as("tv"),
        round(sqrt(greatest(lit(0.0), lit(1.0) - col("bcs").cast("double"))), 6).as("hellinger"))
  }

  val tvDriftSql: String = {
    val lst = stopwords.flatMap(_._2).map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH tok AS (
  SELECT source, token FROM (
    SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS token
    FROM documents)
  WHERE length(token) > 0 AND NOT list_contains($lst, token)),
st AS (SELECT source, token, count(*)::HUGEINT AS c FROM tok GROUP BY 1, 2),
tt AS (SELECT token, count(*)::HUGEINT AS ca FROM tok GROUP BY 1),
ns AS (SELECT source, count(*)::HUGEINT AS ns FROM tok GROUP BY 1),
na AS (SELECT count(*)::HUGEINT AS na FROM tok),
grid AS (
  SELECT s.source, s.ns, na.na, t.token, t.ca, coalesce(st.c, 0::HUGEINT) AS c
  FROM tt t CROSS JOIN ns s CROSS JOIN na
  LEFT JOIN st ON st.source = s.source AND st.token = t.token),
terms AS (
  SELECT source, ns, na,
    abs(c * (na - ns) - (ca - c) * ns)::HUGEINT AS tvn,
    CAST(sqrt((c * (ca - c))::DOUBLE / ((ns * (na - ns))::DOUBLE)) AS DECIMAL(18,9)) AS bc
  FROM grid WHERE na <> ns),
agg AS (SELECT source, ns, na, sum(tvn)::HUGEINT AS tvnum, sum(bc) AS bcs
  FROM terms GROUP BY 1, 2, 3)
SELECT source, ns::BIGINT AS n_tokens,
  round(tvnum::DOUBLE / (2::HUGEINT * ns * (na - ns))::DOUBLE, 6) AS tv,
  round(sqrt(greatest(0.0, 1.0 - bcs::DOUBLE)), 6) AS hellinger
FROM agg"""
  }

  // ---- L61 (r6): inverted index with doc-range posting blocks ----
  // The search/retrieval index-build shape (the corpus side of BM25 and
  // of every "which training docs contain X" audit): term -> postings
  // of (doc_id, tf), doc-gap delta-encoded. The scale decision is the
  // BLOCKING key: postings are segmented by doc RANGE (block = doc_id
  // div 128, the Lucene-segment shape), NOT row_number — a row_number
  // posting layout needs one ordered window over every posting of a
  // term, which serializes the hottest (= most valuable) terms through
  // one reducer. Range blocks make every (term, block) cell independent:
  // delta-encoding needs only the previous doc IN THE SAME BLOCK, so the
  // first entry stores the absolute doc_id and the whole cell is built
  // map-side after one fine-grained (term, block) shuffle. Per-term
  // df/cf then aggregate over block SUMMARIES (rows = blocks, not
  // postings — the only per-term window touches ~df/128 rows). At
  // 100 TB: two partial-agged shuffles on fine-grained keys; the skew a
  // hot term used to cause is bounded by 128 docs per cell.
  private val PostingBlock = 128L

  def invertedIndex(documents: DataFrame): DataFrame = {
    val stops = stopwords.flatMap(_._2)
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0 && !col("token").isInCollection(stops))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val blocks = tf
      .withColumn("block", expr(s"doc_id div $PostingBlock"))
      .groupBy(col("token"), col("block"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("ps"),
        count(lit(1)).as("n_block"), sum(col("tf")).as("block_cf"))
    // shifted[i] = ps[i-1] (zero-struct at i=0), so gap_0 = absolute
    // doc_id and gap_i = doc_i - doc_{i-1}: linear zip_with, no nested
    // per-element HOF
    val shifted = concat(
      array(struct(lit(0L).as("doc_id"), lit(0L).as("tf"))),
      slice(col("ps"), lit(1), size(col("ps")) - 1))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
    blocks
      .withColumn("postings", array_join(
        zip_with(col("ps"), shifted, (x, p) => concat(
          (x.getField("doc_id") - p.getField("doc_id")).cast("string"),
          lit(":"), x.getField("tf").cast("string"))), ","))
      .select(col("token"), col("block"),
        sum(col("n_block")).over(w).as("df"),
        sum(col("block_cf")).over(w).as("cf"),
        col("n_block"), col("postings"))
  }

  val invertedIndexSql: String = {
    val lst = stopwords.flatMap(_._2).map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH tf AS (
  SELECT token, doc_id, count(*) AS tf FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents)
  WHERE length(token) > 0 AND NOT list_contains($lst, token)
  GROUP BY 1, 2),
g AS (SELECT token, doc_id // $PostingBlock AS block, doc_id, tf,
        coalesce(doc_id - lag(doc_id) OVER (PARTITION BY token, doc_id // $PostingBlock ORDER BY doc_id), doc_id) AS gap
      FROM tf),
b AS (SELECT token, block,
        string_agg(gap::VARCHAR || ':' || tf::VARCHAR, ',' ORDER BY doc_id) AS postings,
        count(*)::BIGINT AS n_block, sum(tf)::BIGINT AS block_cf
      FROM g GROUP BY 1, 2)
SELECT token, block, sum(n_block) OVER (PARTITION BY token)::BIGINT AS df,
       sum(block_cf) OVER (PARTITION BY token)::BIGINT AS cf,
       n_block, postings
FROM b"""
  }

  // ---- L64 (r6): BM25 ranked retrieval ----
  // The query side of L61's index (and the scorer behind
  // retrieval-based data selection / decontamination-by-retrieval):
  // Robertson/Okapi BM25 with k1=1.2, b=0.75 over a literal query
  // term set. Scale shape: the token stream filters to QUERY TERMS
  // map-side before any shuffle (the wire carries docs x |Q| rows, not
  // the corpus); df derives from tf; df (<=|Q| rows) and the
  // (n_docs, avgdl) singleton broadcast; top-k cut is
  // TakeOrderedAndProject. Portability: idf/length-normalized term
  // contributions are IEEE-identical doubles (ln + division over
  // identical inputs — the tfidf/lm precedent), rounded to 6 then
  // summed as DECIMAL so the per-doc score is order-independent; the
  // (score DESC, doc_id) cut is therefore engine-identical.
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Query = Seq("join", "vector", "query", "dup")
  private val Bm25TopK = 25

  /** Per-doc BM25 scores before the top-k cut — shared by [[bm25]] and
    * the L68 RRF fusion's sparse arm. */
  private def bm25Scores(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = base.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .where(col("token").isInCollection(Bm25Query))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", round(
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))), 6)
        .cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).cast("double").as("score"),
        count(lit(1)).as("n_terms"))
  }

  def bm25(documents: DataFrame): DataFrame =
    bm25Scores(documents)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)

  /** The `WITH`-body through the scored-doc CTE `sc` — shared by
    * [[bm25Sql]] and [[hybridRrfSql]]. */
  private val bm25Ctes: String = {
    val q = Bm25Query.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""base AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM documents),
d AS (SELECT doc_id, len(toks)::BIGINT AS dl, toks FROM base),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM d),
tf AS (SELECT doc_id, dl, token, count(*)::DOUBLE AS tf FROM (
    SELECT doc_id, dl, unnest(toks) AS token FROM d)
  WHERE list_contains($q, token) GROUP BY 1, 2, 3),
df AS (SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
c AS (SELECT doc_id,
    round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
      (tf * ($Bm25K1 + 1.0)) /
      (tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl)), 6)::DECIMAL(18,6) AS contrib
  FROM tf JOIN df USING (token) CROSS JOIN stats),
sc AS (SELECT doc_id, sum(contrib)::DOUBLE AS score, count(*)::BIGINT AS n_terms
  FROM c GROUP BY doc_id)"""
  }

  val bm25Sql: String =
    s"""WITH $bm25Ctes
SELECT doc_id, score, n_terms FROM sc ORDER BY score DESC, doc_id LIMIT $Bm25TopK"""

  // ---- L68 (r6): hybrid retrieval — reciprocal-rank fusion ----
  // The fusion step every production retrieval stack runs on top of
  // L64 (sparse) and a dense arm: RRF (Cormack/Clarke/Buettcher 2009),
  // score(d) = Σ_arms 1/(C + rank_arm(d)) with the standard C = 60.
  // Used in data pipelines for retrieval-based decontamination and
  // example selection, where neither arm alone is trusted. Demo query:
  // the L64 literal term set (sparse) + the corpus embedding of
  // `vec_id = 0` as the dense query vector (vec_id ≡ doc_id, the L32
  // contract). Scale shape: each arm is the scale path that already
  // exists — BM25's map-side term filter + TakeOrderedAndProject, and
  // a broadcast single-vector cosine scan with a TakeOrdered cut — so
  // the fusion input is two ≤`RrfArmK`-row frames; the full-outer
  // fusion join, rank windows, and final cut all run over k-bounded
  // data (the single-partition windows touch ≤50 rows BY CONSTRUCTION,
  // not by luck — the arms' limits precede them).
  // Portability: arm ranks are integer row_numbers over
  // (rounded score DESC, doc_id) — identical in both engines given the
  // L64/L6 score precedents — and 1/(C+rank) is one IEEE double
  // division rounded to 6 and summed as DECIMAL, so fused scores and
  // the final (rrf DESC, doc_id) cut are engine-identical.
  private val RrfC = 60L
  private val RrfArmK = 50
  private val RrfTopK = 25
  private val RrfDenseQueryId = 0L

  def hybridRrf(documents: DataFrame, embeddings: DataFrame): DataFrame = {
    val armW = org.apache.spark.sql.expressions.Window
    // sparse arm: L64's scorer, cut to RrfArmK, then ranked (the
    // window sorts the already-cut 50-row frame)
    val sparse = bm25Scores(documents)
      .orderBy(col("score").desc, col("doc_id")).limit(RrfArmK)
      .withColumn("r_sparse", row_number()
        .over(armW.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("r_sparse"))
    // dense arm: one broadcast query vector against the corpus scan
    val qv = embeddings.where(col("vec_id") === RrfDenseQueryId)
      .select(col("embedding").cast("array<double>").as("qv"))
    val dense = embeddings.where(col("vec_id") =!= RrfDenseQueryId)
      .select(col("vec_id").as("doc_id"), col("embedding").cast("array<double>").as("cv"))
      .crossJoin(broadcast(qv))
      .select(col("doc_id"), round(
        VectorFunctions.dot(col("qv"), col("cv")) /
          (sqrt(VectorFunctions.dot(col("qv"), col("qv"))) *
            sqrt(VectorFunctions.dot(col("cv"), col("cv")))), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(RrfArmK)
      .withColumn("r_dense", row_number()
        .over(armW.orderBy(col("cos").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("r_dense"))
    def contrib(r: Column): Column =
      when(r > 0, round(lit(1.0) / (lit(RrfC) + r), 6)).otherwise(lit(0.0))
        .cast("decimal(18,6)")
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_sparse"), lit(0L)).as("r_sparse"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"))
      .withColumn("rrf",
        (contrib(col("r_sparse")) + contrib(col("r_dense"))).cast("double"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(RrfTopK)
  }

  val hybridRrfSql: String =
    s"""WITH $bm25Ctes,
sp AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_sparse
  FROM (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT $RrfArmK)),
qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $RrfDenseQueryId),
dc AS (SELECT vec_id AS doc_id, round(
    list_dot_product(qv, embedding::DOUBLE[]) /
      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS cos
  FROM embeddings, qv WHERE vec_id <> $RrfDenseQueryId),
dn AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r_dense
  FROM (SELECT * FROM dc ORDER BY cos DESC, doc_id LIMIT $RrfArmK)),
f AS (SELECT coalesce(sp.doc_id, dn.doc_id) AS doc_id,
    coalesce(r_sparse, 0)::BIGINT AS r_sparse,
    coalesce(r_dense, 0)::BIGINT AS r_dense,
    ((CASE WHEN r_sparse IS NOT NULL THEN round(1.0 / ($RrfC + r_sparse), 6) ELSE 0 END)::DECIMAL(18,6)
     + (CASE WHEN r_dense IS NOT NULL THEN round(1.0 / ($RrfC + r_dense), 6) ELSE 0 END)::DECIMAL(18,6)) AS rrf
  FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id)
SELECT doc_id, r_sparse, r_dense, rrf::DOUBLE AS rrf
FROM f ORDER BY rrf DESC, doc_id LIMIT $RrfTopK"""

  // ---- L14: TF-IDF (top term per doc) ----
  // tf from an explode+count, df derived from tf, idf = ln(N/df).
  // Joined back on the token with a SHUFFLE join: at 100 TB the distinct
  // vocabulary is itself billions of rows, so broadcasting it would pin
  // the whole token table in every executor. Only the single-row doc
  // count broadcasts. Output: top-scoring term per document (argmax via
  // max(struct)).
  def tfidf(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
    // materialized once: tf is read twice, by the score join and by df
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val docCount = documents.select(count(lit(1)).as("n_docs"))
    // df derives from tf (one row per (doc, token)) — no second pass
    // over the raw token stream
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(df.hint("shuffle_hash"), "token")
      .crossJoin(broadcast(docCount))
      .select(col("doc_id"), col("token"),
        round(col("tf") * log(col("n_docs") / col("df")), 6).as("score"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("score"), col("token"))).as("m"))
      .select(col("doc_id"), col("m.token").as("top_term"), col("m.score").as("top_score"))
  }

  val tfidfSql: String =
    """WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks WHERE length(token) > 0 GROUP BY doc_id, token),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, round(tf.tf * ln(n.n_docs / df.df), 6) AS score
  FROM tf JOIN df USING (token) CROSS JOIN n)
SELECT doc_id, top_term, top_score FROM (
  SELECT doc_id, token AS top_term, score AS top_score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token DESC) AS rn
  FROM scored) WHERE rn = 1"""

  // ---- L15: bigram counts (n-gram language-model statistics) ----
  def bigrams(documents: DataFrame): DataFrame = {
    documents
      .select(explode(VectorFunctions.shingles(tokens(col("text")), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n_docs_with"))
      .where(col("n_docs_with") >= 3)
  }

  val bigramsSql: String = {
    val sh2 = graft.functions.Portable.wordShinglesSql(
      "string_split_regex(lower(text), '\\s+')", 2)
    s"""SELECT bigram, count(*) AS n_docs_with FROM (
  SELECT doc_id, unnest($sh2) AS bigram FROM documents)
GROUP BY bigram HAVING count(*) >= 3"""
  }

  // ---- L51: character entropy (gibberish / binary-noise detector) ----
  // Shannon entropy of the character distribution — the quality signal
  // that catches base64 blobs, minified code, and repeated-padding
  // spam that token-level ratios (L9) miss. Identity used:
  // H = ln(n) − (1/n)·Σ n_c·ln(n_c) — the counts stay EXACT integers
  // through both shuffles and ln/division happen once per doc at the
  // end (IEEE-identical cross-engine per the tfidf/lm precedent),
  // round(.,6). Plan: one (doc, char) shuffle with map-side partials
  // (alphabet-bounded groups), one (doc) rollup.
  def charEntropy(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .where(length(col("ch")) > 0)
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("nc"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nc")).as("n"),
        count(lit(1)).as("distinct_chars"),
        sum(col("nc").cast("double") * log(col("nc").cast("double"))).as("slog"))
      .select(col("doc_id"), col("n"), col("distinct_chars"),
        round(log(col("n").cast("double")) - col("slog") / col("n"), 6).as("entropy"))

  val charEntropySql: String =
    """WITH c AS (
  SELECT doc_id, ch, count(*) AS nc
  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
  WHERE length(ch) > 0 GROUP BY doc_id, ch),
agg AS (
  SELECT doc_id, sum(nc)::BIGINT AS n, count(*) AS distinct_chars,
         sum(nc::DOUBLE * ln(nc::DOUBLE)) AS slog
  FROM c GROUP BY doc_id)
SELECT doc_id, n, distinct_chars,
       round(ln(n::DOUBLE) - slog / n, 6) AS entropy
FROM agg"""

  // ---- L46: PMI collocation scoring ----
  // Pointwise mutual information over adjacent word pairs — the
  // collocation detector ("new york" vs "of the") used for tokenizer
  // merge candidates and phrase mining. pmi = ln(c_xy·N / (c_x·c_y))
  // with true occurrence counts (non-distinct graft_grams, the L17
  // rule) and N = token count. The integer products are exact under
  // 2^53, the double division and ln are the same IEEE ops in both
  // engines (the tfidf/lm_score precedent), round(.,6) absorbs the
  // last ulp. Plan: one (bigram) shuffle with map-side partials, two
  // shuffle-hash joins against the unigram counts (vocabulary never
  // broadcast — it scales with the corpus), the single-row N frame
  // broadcast. Floor c_xy >= 5 keeps collocations statistically
  // meaningful and bounds the join width.
  private val PmiMinCount = 5L

  def pmi(documents: DataFrame): DataFrame = {
    val toks = documents.select(explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
    val uni = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val nTok = toks.agg(count(lit(1)).as("n_tok"))
    documents
      .select(explode(VectorFunctions.grams(tokens(col("text")), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= PmiMinCount)
      .select(element_at(split(col("bigram"), " "), 1).as("w1"),
        element_at(split(col("bigram"), " "), 2).as("w2"), col("c_xy"))
      .join(uni.select(col("token").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("token").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(nTok))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        round(log((col("c_xy") * col("n_tok")).cast("double") /
          (col("c_x") * col("c_y"))), 6).as("pmi"))
  }

  val pmiSql: String = {
    val grams = graft.functions.Portable.wordGramsSql(
      "string_split_regex(lower(text), '\\s+')", 2)
    s"""WITH toks AS (
  SELECT token FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents)
  WHERE length(token) > 0),
uni AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n_tok FROM toks),
big AS (
  SELECT string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2,
         count(*) AS c_xy
  FROM (SELECT unnest($grams) AS bigram FROM documents)
  GROUP BY 1, 2 HAVING count(*) >= $PmiMinCount)
SELECT b.w1, b.w2, b.c_xy::BIGINT AS c_xy, x.c::BIGINT AS c_x, y.c::BIGINT AS c_y,
  round(ln((b.c_xy * n.n_tok)::DOUBLE / (x.c * y.c)), 6) AS pmi
FROM big b JOIN uni x ON x.token = b.w1 JOIN uni y ON y.token = b.w2, n"""
  }

  // ---- L17: repetition statistics (Gopher-style quality signals) ----
  // Per document: duplicate-word fraction (1 - distinct/total) and the
  // share of the most frequent bigram. Word stats are map-only array
  // expressions; the top-bigram needs true per-(doc, bigram) counts, so
  // bigrams come from the NON-distinct `graft_grams` (graft_shingles
  // dedups, which would pin every count at 1) and go through a
  // relational explode + two aggregations rather than nested HOFs (a
  // lambda-in-lambda formulation is re-evaluated per element,
  // interpreted — the repo's standing gotcha). One shuffle on
  // (doc_id, bigram), partial aggs absorb hot rows.
  def repetition(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val words = documents.select(
      col("doc_id"),
      size(toks).cast("long").as("n_words"),
      round(lit(1.0) - size(array_distinct(toks)).cast("double") /
        size(toks).cast("double"), 6).as("dup_word_frac"))
    val bg = documents
      .select(col("doc_id"),
        explode(VectorFunctions.grams(tokens(col("text")), 2)).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_bigrams"))
    words.join(bg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
        round(coalesce(col("top_c").cast("double") / col("n_bigrams"), lit(0.0)), 6)
          .as("top_bigram_frac"))
  }

  val repetitionSql: String = {
    val sh2 = graft.functions.Portable.wordGramsSql(
      "string_split_regex(lower(text), '\\s+')", 2)
    """WITH w AS (SELECT doc_id,
  len(string_split_regex(lower(text), '\s+'))::BIGINT AS n_words,
  round(1.0 - len(list_distinct(string_split_regex(lower(text), '\s+')))::DOUBLE
            / len(string_split_regex(lower(text), '\s+')), 6) AS dup_word_frac
FROM documents),
bg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bigrams FROM (
  SELECT doc_id, bigram, count(*) AS c FROM (
    SELECT doc_id, unnest(""" + sh2 + """) AS bigram FROM documents)
  GROUP BY doc_id, bigram) GROUP BY doc_id)
SELECT w.doc_id, n_words, dup_word_frac,
  round(coalesce(top_c::DOUBLE / n_bigrams, 0.0), 6) AS top_bigram_frac
FROM w LEFT JOIN bg ON w.doc_id = bg.doc_id"""
  }

  // ---- L24: n-gram LM scoring (CCNet-style perplexity proxy) ----
  // Score each doc by the average log-probability of its bigrams under
  // an add-k-smoothed bigram model fit on the corpus itself — the
  // classic perplexity quality filter, done relationally: bigram and
  // unigram count tables derive from one explode each; the doc's
  // bigram stream joins them SHUFFLE-hash (the vocabulary scales with
  // the corpus — same rule as tfidf; only the scalar vocab size
  // broadcasts). Per-doc mean of ln P goes through a decimal(18,9)
  // sum so it is order-independent → engine-identical.
  private val LmK = 0.5

  def lmScore(documents: DataFrame): DataFrame = {
    val bg = documents.select(col("doc_id"),
      explode(VectorFunctions.grams(tokens(col("text")), 2)).as("bigram"))
    val toks = documents.select(explode(tokens(col("text"))).as("w"))
    val c2 = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    val c1 = toks.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
    val vocab = toks.agg(count_distinct(col("w")).as("v"))
    val lnp = log((col("c12") + LmK) / (col("c1") + col("v") * LmK))
    bg.withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(c2.hint("shuffle_hash"), "bigram")
      .join(c1.hint("shuffle_hash"), "w1")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(round(
        sum(lnp.cast("decimal(18,9)")).cast("double") / count(lit(1)), 6)
        .as("lm_score"), count(lit(1)).as("n_bigrams"))
  }

  val lmScoreSql: String = {
    val grams = graft.functions.Portable.wordGramsSql(
      "string_split_regex(lower(text), '\\s+')", 2)
    s"""WITH bg AS (SELECT doc_id, unnest($grams) AS bigram FROM documents),
tok AS (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents),
c2 AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY bigram),
c1 AS (SELECT w AS w1, count(*) AS c1 FROM tok GROUP BY w),
v AS (SELECT count(DISTINCT w) AS v FROM tok)
SELECT doc_id,
  round(sum(CAST(ln((c12 + $LmK) / (c1 + $LmK * v)) AS DECIMAL(18,9)))::DOUBLE / count(*), 6) AS lm_score,
  count(*) AS n_bigrams
FROM bg
JOIN c2 USING (bigram)
JOIN c1 ON c1.w1 = string_split(bigram, ' ')[1]
CROSS JOIN v
GROUP BY doc_id"""
  }

  // ---- L18: PII scrubbing (email/URL detection + redaction) ----
  // Counts and a digest of the redacted text — the digest makes the
  // oracle prove the REPLACEMENT itself is byte-identical, not just the
  // counts. Patterns are deliberately RE2-compatible (no backrefs or
  // lookaround) so Spark's java.util.regex and DuckDB's RE2 agree.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // explicit whitespace class: Java's \s includes \x0B, RE2's does not,
  // so [^\s] would tokenize differently across engines on vertical tabs
  private val UrlRe = "https?://[^ \\t\\n\\x0B\\f\\r]+"

  def piiScrub(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(UrlRe)).cast("long").as("n_urls"),
      md5(regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        UrlRe, "<URL>")).as("scrubbed_md5"))

  val piiScrubSql: String =
    s"""SELECT doc_id,
  len(regexp_extract_all(text, '$EmailRe'))::BIGINT AS n_emails,
  len(regexp_extract_all(text, '$UrlRe'))::BIGINT AS n_urls,
  md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'), '$UrlRe', '<URL>', 'g')) AS scrubbed_md5
FROM documents"""

  val fingerprintSql: String = {
    val h = md5LongSql("'f'", "substr(lower(text), i, 5)")
    s"""WITH g AS (SELECT doc_id,
  list_transform(generate_series(1, length(text) - 4), i -> $h) AS grams,
  length(text) AS n
FROM documents WHERE length(text) >= 8)
SELECT doc_id, unnest(list_distinct(
  list_transform(generate_series(1, n - 7), j -> list_aggregate(grams[j:j+3], 'min')))) AS fp
FROM g"""
  }

  // ---- L52: fingerprint-overlap pairs (the MOSS shape) ----
  // What winnowing fingerprints (L11) exist FOR: two documents sharing
  // >= k selected fingerprints share k robustly-positioned substrings
  // — the plagiarism/provenance detector (MOSS, Stanford '03), distinct
  // from shingle Jaccard (L2 measures global set overlap; this flags
  // LOCAL copied regions inside otherwise-different docs). Candidates
  // from the inverted fingerprint index with a df cap (a boilerplate
  // fingerprint shared by hundreds of docs is dropped, not exploded —
  // the MaxDf analogue, mirrored in the oracle); pair volume is
  // bounded by cap²·index size. One (fp) shuffle + one pair count.
  private val MossMaxDf = 16L
  private val MossMinShared = 3L

  def fingerprintPairs(documents: DataFrame): DataFrame = {
    // materialized once: the winnowing pass (CPU-dense per-byte k-gram
    // rolling hash) has FOUR consumers in this plan (the df histogram +
    // the indexed side, each twice through the self-join) and exchange
    // reuse does not fire across their differing projections; the
    // frame is the narrow (doc_id, fp) stream
    val fps = fingerprint(documents).localCheckpoint(eager = false)
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") <= MossMaxDf).select(col("fp"))
    val idx = fps.join(rare, "fp")
    idx.select(col("fp"), col("doc_id").as("x"))
      .join(idx.select(col("fp"), col("doc_id").as("y")), "fp")
      .where(col("x") < col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= MossMinShared)
  }

  val fingerprintPairsSql: String =
    s"""WITH fps AS ($fingerprintSql),
rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= $MossMaxDf),
idx AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS shared_fps
FROM idx a JOIN idx b ON b.fp = a.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= $MossMinShared"""

  // ---- L31: hashed linear quality classifier (fasttext-filter shape) ----
  // Inference for a linear model over hashed bag-of-words features —
  // the architecture of the fasttext/CCNet quality filters every
  // pretraining pipeline runs. The weight of token t is
  // w(t) = (md5(t) % 2001) − 1000 ∈ [−1000, 1000] milli-units: a
  // hash-derived stand-in with the same plumbing as a trained model
  // (swap the hash lookup for a broadcast weight table and NOTHING
  // else changes). The logit is the exact INTEGER mean numerator —
  // Σw(t) stays a BIGINT sum (order-independent, oracle-exact) and no
  // sigmoid/exp runs in-engine (libm exp differs across engines by an
  // ulp; consumers apply it downstream). Map-side token explode + one
  // (doc) shuffle of (long, long) partials.
  def hashedClassifier(documents: DataFrame): DataFrame = {
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .where(length(col("t")) > 0)
      .select(col("doc_id"),
        (pmod(md5Long(lit("w"), col("t")), lit(2001)) - 1000L).as("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("logit_sum_milli"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("logit_sum_milli"), col("n_tokens"),
        (col("logit_sum_milli") > 0).cast("long").as("pred_keep"))
  }

  val hashedClassifierSql: String =
    s"""SELECT doc_id, sum(w)::BIGINT AS logit_sum_milli, count(*)::BIGINT AS n_tokens,
  (sum(w) > 0)::BIGINT AS pred_keep
FROM (
  SELECT doc_id, (${md5LongSql("'w'", "t")} % 2001) - 1000 AS w
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t FROM documents)
  WHERE length(t) > 0)
GROUP BY doc_id"""

  // ---- L56 (r6): Naive Bayes classifier TRAINING (learning half of
  // L31, the bpeTrain→bpeEncode symmetry applied to quality filtering)
  // ----
  // L31 is inference for a linear bag-of-words filter with a
  // hash-derived weight table; this LEARNS the table. Multinomial NB
  // with add-α smoothing is the countable member of the linear-filter
  // family: per-token log-odds ARE linear weights, and training is
  // nothing but two aggregations — per-(token, class) occurrence
  // counts and class totals. Weak labels come from the L9 heuristic
  // (quality_score > 0.2, the classic bootstrap: heuristic labels →
  // generalizing model); the train/test split is doc_id % 5.
  //
  // Cross-engine exactness: every ln input derives from exact BIGINT
  // counts (c+α over N+αV with α=0.5 — halves are exact doubles), so
  // both engines compute identical doubles (tfidf/lm precedent),
  // round(.,6). Classification sums the rounded weights as
  // decimal(18,6) — order-independent, exact.
  //
  // Scale shape: labeling is map-only (the L9 expression fused into
  // the scan); training is ONE vocab-bounded (token) shuffle + a
  // single-row totals broadcast; the model is a vocab-sized table —
  // broadcast, the tokenizer-swap seam of L31 made real (swap this
  // for fasttext weights and nothing else changes). Classification:
  // broadcast join + one (doc) shuffle of decimal partials.
  private val NbAlpha = 0.5
  private val NbCut = 0.2
  private val NbBiasTok = "<bias>"

  /** (doc_id, y, t) token stream with the weak label computed ONCE
    * per doc: the single-element explode is a Generate barrier (the
    * extractLanes pattern) — without it Catalyst delays the label
    * projection past the token explode and the O(|doc|) score
    * expression runs per TOKEN, O(|doc|²) per doc (measured 12.7 s
    * vs ~2 s at sf0.1). */
  private def labeledTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(array(struct((qualityScoreCol > NbCut).cast("long").as("y"),
          tokens(col("text")).as("toks")))).as("s"))
      .select(col("doc_id"), col("s.y").as("y"), explode(col("s.toks")).as("t"))
      .where(length(col("t")) > 0)

  /** (token, c_pos, c_neg, w): per-token smoothed log-odds learned on
    * the train split, plus one `<bias>` row carrying the class prior
    * (c_pos/c_neg = doc counts there). */
  def nbTrain(documents: DataFrame): DataFrame = {
    val train = documents.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val toks = labeledTokens(train)
    val counts = toks.groupBy(col("t"))
      .agg(sum(col("y")).as("c_pos"), sum(lit(1) - col("y")).as("c_neg"))
    val totals = counts.agg(sum(col("c_pos")).as("n_pos"),
      sum(col("c_neg")).as("n_neg"), count(lit(1)).as("v"))
    val w = round(
      log((col("c_pos") + NbAlpha) / (col("n_pos") + col("v") * NbAlpha)) -
        log((col("c_neg") + NbAlpha) / (col("n_neg") + col("v") * NbAlpha)), 6)
    val tokenRows = counts.crossJoin(broadcast(totals))
      .select(col("t").as("token"), col("c_pos"), col("c_neg"), w.as("w"))
    val biasRow = train
      .agg(sum((qualityScoreCol > NbCut).cast("long")).as("d_pos"),
        count(lit(1)).as("d_all"))
      .select(lit(NbBiasTok).as("token"), col("d_pos").as("c_pos"),
        (col("d_all") - col("d_pos")).as("c_neg"),
        round(log(col("d_pos").cast("double") / (col("d_all") - col("d_pos"))), 6).as("w"))
    tokenRows.unionAll(biasRow)
  }

  /** Score the held-out split with a learned weight table (defaults to
    * [[nbTrain]] on the same corpus — train on 80%, generalize to the
    * 20% the model never saw). Unseen tokens score 0 (they cancel in
    * the log-odds view). */
  def nbClassify(documents: DataFrame, weights: Option[DataFrame] = None,
      heldOutOnly: Boolean = true): DataFrame = {
    // the model is vocab-sized — materialize it once (localCheckpoint,
    // the bpeTrain precedent) so its two consumers below don't each
    // replay the whole training pipeline
    val model = weights.getOrElse(nbTrain(documents).localCheckpoint())
    val tw = model.where(col("token") =!= NbBiasTok)
      .select(col("token").as("t"), col("w"))
    val biasDf = model.where(col("token") === NbBiasTok).select(col("w").as("bias"))
    val logit = col("wsum").cast("double") + col("bias")
    val scoreSet =
      if (heldOutOnly) documents.where(pmod(col("doc_id"), lit(5)) === 0)
      else documents
    labeledTokens(scoreSet)
      .withColumnRenamed("y", "label")
      .join(broadcast(tw), Seq("t"), "left")
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(coalesce(col("w"), lit(0.0)).cast("decimal(18,6)")).as("wsum"),
        count(lit(1)).as("n_tokens"))
      .crossJoin(broadcast(biasDf))
      .select(col("doc_id"), col("n_tokens"), round(logit, 6).as("logit"),
        (logit > 0).cast("long").as("pred_keep"), col("label"),
        ((logit > 0).cast("long") === col("label")).cast("long").as("correct"))
  }

  private val nbTrainCtes: String = {
    s"""qs AS (SELECT doc_id, text, $qualityScoreSqlExpr AS q
  FROM documents),
lab AS (SELECT doc_id, (q > $NbCut)::BIGINT AS y, text FROM qs WHERE doc_id % 5 <> 0),
tok AS (SELECT doc_id, y, unnest(string_split_regex(lower(text), '\\s+')) AS t FROM lab),
cnt AS (SELECT t, sum(y)::BIGINT AS c_pos, sum(1 - y)::BIGINT AS c_neg
  FROM tok WHERE length(t) > 0 GROUP BY t),
tot AS (SELECT sum(c_pos) AS n_pos, sum(c_neg) AS n_neg, count(*) AS v FROM cnt),
dt AS (SELECT sum(y)::BIGINT AS d_pos, count(*)::BIGINT AS d_all FROM lab),
model AS (
  SELECT t AS token, c_pos, c_neg,
    round(ln((c_pos + $NbAlpha) / (n_pos + $NbAlpha * v))
        - ln((c_neg + $NbAlpha) / (n_neg + $NbAlpha * v)), 6) AS w
  FROM cnt CROSS JOIN tot
  UNION ALL
  SELECT '$NbBiasTok', d_pos, (d_all - d_pos)::BIGINT,
    round(ln(d_pos::DOUBLE / (d_all - d_pos)), 6) FROM dt)"""
  }

  val nbTrainSql: String =
    s"""WITH $nbTrainCtes
SELECT token, c_pos, c_neg, w FROM model"""

  def nbClassifySqlFor(scoreFilter: String): String =
    s"""WITH $nbTrainCtes,
test AS (SELECT doc_id, (q > $NbCut)::BIGINT AS label, text FROM qs WHERE $scoreFilter),
ttok AS (SELECT doc_id, label, unnest(string_split_regex(lower(text), '\\s+')) AS t
  FROM test),
agg AS (
  SELECT doc_id, label,
    sum(coalesce(m.w, 0.0)::DECIMAL(18,6)) AS wsum, count(*)::BIGINT AS n_tokens
  FROM (SELECT * FROM ttok WHERE length(t) > 0) x
  LEFT JOIN (SELECT token, w FROM model WHERE token <> '$NbBiasTok') m ON m.token = x.t
  GROUP BY doc_id, label)
SELECT doc_id, n_tokens,
  round(wsum::DOUBLE + b.w, 6) AS logit,
  (wsum::DOUBLE + b.w > 0)::BIGINT AS pred_keep, label,
  ((wsum::DOUBLE + b.w > 0)::BIGINT = label)::BIGINT AS correct
FROM agg CROSS JOIN (SELECT w FROM model WHERE token = '$NbBiasTok') b"""

  val nbClassifySql: String = nbClassifySqlFor("doc_id % 5 = 0")

  // ---- L79 (r6): precision/recall threshold sweep (filter
  // calibration) ----
  // The step between training a quality filter (L56) and running it
  // over 100 TB (L20/L58): pred_keep > 0 is one point on the curve,
  // but the threshold a pipeline ships is chosen from the whole
  // precision/recall trade-off. The scalable sweep is BINNED: logits
  // histogram into B fixed-width bins (one aggregate, map-side
  // partials), and the descending-threshold cumulative — TP(b)/FP(b)
  // = keep everything scoring in bin b or above — is a window over
  // the B-ROW bin frame, so curve state is B rows at any corpus
  // size (the C20 histogram + C4 scan pattern, never a corpus-wide
  // sort the way an exact per-score sweep would be).
  //
  // Cross-engine exactness: bin = floor((logit − Lo)/W) on the
  // round(6) logit — Lo/W are exact binary doubles (−25, 2.5), one
  // IEEE subtraction + division, identical floors; counts are exact
  // BIGINTs; precision/recall/f1 are one BIGINT-derived double
  // division each, round(6) (tfidf precedent).
  private val PrBins = 40L
  private val PrLo = -10.0 // exact binary; W=0.5 exact: floors IEEE-identical
  private val PrW = 0.5

  /** One row per occupied-or-above threshold bin: (bin, threshold,
    * tp, fp, fn, precision, recall, f1) for the rule "keep docs with
    * logit ≥ threshold", evaluated against the held-out weak labels. */
  def prCurve(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = nbClassify(documents)
    val binned = scored
      .select(least(lit(PrBins - 1), greatest(lit(0L),
          floor((col("logit") - PrLo) / PrW))).cast("long").as("bin"),
        col("label"))
      .groupBy("bin")
      .agg(sum(col("label")).as("pos"), sum(lit(1L) - col("label")).as("neg"))
    val desc = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    binned
      .select(col("bin"),
        sum("pos").over(desc).as("tp"), sum("neg").over(desc).as("fp"),
        sum("pos").over(all).as("p_all"))
      .select(col("bin"), (lit(PrLo) + col("bin") * PrW).as("threshold"),
        col("tp"), col("fp"), (col("p_all") - col("tp")).as("fn"),
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6).as("precision"),
        round(col("tp").cast("double") / col("p_all"), 6).as("recall"),
        round(lit(2.0) * col("tp") / (col("tp") + col("tp") + col("fp")
          + col("p_all") - col("tp")), 6).as("f1"))
  }

  val prCurveSql: String =
    s"""WITH $nbTrainCtes,
test AS (SELECT doc_id, (q > $NbCut)::BIGINT AS label, text FROM qs WHERE doc_id % 5 = 0),
ttok AS (SELECT doc_id, label, unnest(string_split_regex(lower(text), '\\s+')) AS t
  FROM test),
agg AS (
  SELECT doc_id, label,
    sum(coalesce(m.w, 0.0)::DECIMAL(18,6)) AS wsum
  FROM (SELECT * FROM ttok WHERE length(t) > 0) x
  LEFT JOIN (SELECT token, w FROM model WHERE token <> '$NbBiasTok') m ON m.token = x.t
  GROUP BY doc_id, label),
sc AS (SELECT round(wsum::DOUBLE + b.w, 6) AS logit, label
  FROM agg CROSS JOIN (SELECT w FROM model WHERE token = '$NbBiasTok') b),
binned AS (
  SELECT least($PrBins - 1, greatest(0, floor((logit - ($PrLo)) / $PrW)))::BIGINT AS bin,
    sum(label)::BIGINT AS pos, sum(1 - label)::BIGINT AS neg
  FROM sc GROUP BY 1),
cum AS (
  SELECT bin,
    sum(pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tp,
    sum(neg) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS fp,
    sum(pos) OVER ()::BIGINT AS p_all
  FROM binned)
SELECT bin, ($PrLo + bin * $PrW)::DOUBLE AS threshold, tp, fp,
  (p_all - tp)::BIGINT AS fn,
  round(tp::DOUBLE / (tp + fp), 6) AS precision,
  round(tp::DOUBLE / p_all, 6) AS recall,
  round(2.0 * tp / (tp + tp + fp + p_all - tp), 6) AS f1
FROM cum"""

  // ---- L74 (r6): sentence segmentation with byte offsets ----
  // The unit-of-text stage between raw docs and chunking/packing
  // (RAG passage boundaries, sentence-level dedup, citation spans all
  // need SENTENCES WITH POSITIONS, not bags of tokens). Segmentation
  // is one alternation regex, `[^.!?]*[.!?]+\s* | [^.!?]+\z`:
  // a sentence is anything up to and including a terminator run plus
  // its trailing whitespace, or the unterminated tail. Every character
  // position starts a match (terminator → arm 1 with an empty prefix;
  // non-terminator → arm 1 if a terminator lies ahead, else arm 2), so
  // consecutive matches PARTITION the text exactly — offsets derive
  // from the sentences themselves and substr(text, start, len)
  // rebuilds each sentence byte-exactly (spec-pinned; \z not $, which
  // java would let match before a final newline while RE2 would not).
  // Scale shape: extraction is map-only; offsets need a running sum
  // ordered by sentence index — the C4 ordered-scan contract (window
  // partition = the DOC, bounded), one doc-keyed exchange. RE2-safe,
  // identical pattern both engines.
  private val SentencePattern = "[^.!?]*[.!?]+\\s*|[^.!?]+\\z"

  def sentenceSplit(documents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    documents
      .select(col("doc_id"),
        posexplode(regexp_extract_all(col("text"), lit(SentencePattern), lit(0))))
      .toDF("doc_id", "idx", "sent")
      .select(col("doc_id"), col("idx").cast("long").as("idx"),
        (lit(1L) + coalesce(sum(length(col("sent")).cast("long")).over(w), lit(0L)))
          .as("start"),
        length(col("sent")).cast("long").as("len"),
        md5(col("sent")).as("sent_md5"))
  }

  val sentenceSplitSql: String =
    s"""WITH s AS (SELECT doc_id, regexp_extract_all(text, '$SentencePattern', 0) AS sents
  FROM documents),
u AS (SELECT doc_id, i - 1 AS idx, sents[i] AS sent
  FROM s, unnest(generate_series(1, len(sents))) AS g(i))
SELECT doc_id, idx::BIGINT AS idx,
  (1 + coalesce(sum(length(sent)) OVER (PARTITION BY doc_id ORDER BY idx
     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS start,
  length(sent)::BIGINT AS len, md5(sent) AS sent_md5
FROM u"""

  // ---- L26: text normalization (case fold, control strip, whitespace
  // collapse) ----
  // The corpus is already clean (lowercase, single-spaced), so the
  // oracle query injects deterministic noise FIRST — upper-casing every
  // token where (doc_id + i) % 5 = 0 and prefixing every 13th token
  // with a tab — then normalizes, and proves the result restores the
  // original bytes exactly (`restored` = 1 for every row, hash-checked).
  // Same oracle-pinned-injection pattern as the traffic bad-timestamp
  // drop. Map-only at scale; the normalize chain itself is the operator.
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[\\p{Cntrl}]", " "), " +", " "))

  def normalize(documents: DataFrame): DataFrame = {
    val pert = expr(
      """array_join(transform(split(text, ' '), (t, i) ->
        |  concat(CASE WHEN (i + 1) % 13 = 0 THEN concat(chr(9), ' ') ELSE '' END,
        |         CASE WHEN (doc_id + i + 1) % 5 = 0 THEN upper(t) ELSE t END)), ' ')""".stripMargin)
    documents
      .withColumn("pert", pert)
      .select(
        col("doc_id"),
        (length(col("pert")) - length(regexp_replace(col("pert"), "[A-Z]", "")))
          .cast("long").as("n_upper"),
        (length(col("pert")) - length(regexp_replace(col("pert"), "\\t", "")))
          .cast("long").as("n_tabs"),
        md5(normalizeText(col("pert"))).as("norm_md5"),
        (normalizeText(col("pert")) === col("text")).cast("long").as("restored"))
  }

  // ---- L89 (r7): hashed doc embeddings + inverted-index cosine ----
  // The model-free bridge from the text corpus into the similarity
  // family: every ANN operator (L5–L7, L16, L48) consumes the
  // `embeddings` table; this derives a document vector FROM CONTENT —
  // feature hashing (the hashing trick): token → md5 bucket in [0,64),
  // tf per bucket, L2-normalized. Exact: counts are BIGINTs, the norm
  // is one correctly-rounded IEEE sqrt of an integer, each weight one
  // division, round 6 — both engines bit-identical.
  // docSimilarity then scores query docs against the corpus through
  // the SPARSE shape L6 can't use: vectors join on BUCKET (the
  // inverted-index cosine — only co-occurring buckets generate work,
  // |pairs| ∝ posting-list products Σ_b |Pq(b)|·|Pc(b)|, not
  // |Q|×|corpus|×DeB), per-pair dot in exact integer micro-units
  // (below), top-k through the bounded TopKAggregator. Query side is
  // the L6 capped-broadcast contract. Output stays LONG-FORMAT
  // (doc_id, bucket, w) — the r5 q_pq_encode lesson: array columns
  // crash the driver's rows-only comparator.
  // DeB: 4096, not 64 (the r7 verdict's dense-bucket item) — with a
  // 64-bucket space every full-length doc occupies nearly every
  // bucket, so the bucket join degenerates to a dense |Q|×|corpus|
  // pairing through 64 hot keys (64 reducers cap parallelism). At
  // 2^12 buckets a doc occupies only ~|distinct tokens| buckets and
  // two docs co-join only on genuinely SHARED token buckets — the
  // posting-volume contract the spec pins.
  private val DeB = 4096

  def docEmbed(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("doc_id"),
        pmod(md5Long(lit("de"), col("token")), lit(DeB)).as("bucket"))
      .agg(count(lit(1)).as("c"))
      .withColumn("nrm",
        sqrt(sum(col("c") * col("c"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id"))
          .cast("double")))
      .select(col("doc_id"), col("bucket"),
        round(col("c").cast("double") / col("nrm"), 6).as("w"))

  val docEmbedSql: String = {
    val h = graft.functions.Portable.md5LongSql("'de'", "token")
    s"""WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
  FROM documents),
c AS (SELECT doc_id, $h % $DeB AS bucket, count(*) AS c
  FROM t WHERE length(token) > 0 GROUP BY doc_id, bucket),
n AS (SELECT doc_id, sqrt(sum(c * c)::DOUBLE) AS nrm FROM c GROUP BY doc_id)
SELECT doc_id, bucket, round(c::DOUBLE / nrm, 6) AS w
FROM c JOIN n USING (doc_id)"""
  }

  private val DocSimK = 5
  // the L6/r6 ANN query-set contract: query docs are broadcast model
  // state and must not scale with the corpus — the % 97 slice is the
  // sf demo default; a real deployment passes a small external set
  private val DocSimQueryCap = 2000L

  // Exact-integer dot product (the r7 "agg spends its time in decimal
  // sums" measurement): a round-6 unit weight is exactly carried by
  // wu = round(w·1e6) as a BIGINT micro-unit, and the per-bucket
  // contribution round-6(w·wq) becomes (wu·wqu + 500000) div 1e6 —
  // pure 64-bit integer half-up, no decimal buffers, no float drift
  // near ties; cos = Σcu / 1e6 is one IEEE division at the end.
  // Per-pair |cu| ≤ 1e6 and pairs/doc ≤ corpus, so the sum stays
  // far under 2^53. Both engines replay the identical integers.
  private def microWeights(emb: DataFrame): DataFrame =
    emb.select(col("doc_id"), col("bucket"),
      round(col("w") * 1e6).cast("long").as("wu"))

  def docSimilarity(documents: DataFrame,
      querySet: Option[DataFrame] = None): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val qDocs = querySet.getOrElse(documents.where(col("doc_id") % 97 === 0))
      .select(col("doc_id"))
    val nq = qDocs.limit((DocSimQueryCap + 1).toInt).count()
    require(nq <= DocSimQueryCap,
      s"doc-similarity query set exceeds the $DocSimQueryCap-doc cap: pass a small " +
        "external query table (querySet = Some(df)) instead of a corpus-derived slice")
    val emb = microWeights(docEmbed(documents))
    // per-doc weights depend only on the doc's own tokens, so the
    // broadcast build embeds the |Q| query docs directly instead of
    // re-deriving the whole corpus embedding and filtering it
    val queries = microWeights(docEmbed(documents.join(broadcast(qDocs), "doc_id")))
      .select(col("doc_id").as("q_id"), col("bucket"), col("wu").as("wqu"))
    val scored = emb
      .join(broadcast(queries), "bucket")
      .where(col("q_id") =!= col("doc_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(expr("(wu * wqu + 500000) div 1000000")).as("cu"))
      .select(col("q_id"), col("doc_id"),
        (col("cu").cast("double") / 1e6).as("cos"))
    val agg = new graft.functions.TopKAggregator(DocSimK).toColumn
    scored
      .select(col("q_id"), col("doc_id").as("id"), col("cos").as("score"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => graft.functions.ScoredId(r._2, r._3))
      .agg(agg)
      .flatMap { case (q, top) =>
        top.iterator.zipWithIndex.map { case (e, i) => (q, e.id, e.score, (i + 1).toLong) }
      }
      .toDF("q_id", "cand_id", "cos", "rk")
  }

  lazy val docSimilaritySql: String =
    s"""WITH emb AS ($docEmbedSql),
m AS (SELECT doc_id, bucket, round(w * 1000000)::BIGINT AS wu FROM emb),
q AS (SELECT doc_id AS q_id, bucket, wu AS wqu FROM m WHERE doc_id % 97 = 0),
s AS (SELECT q.q_id, e.doc_id,
    sum((e.wu * q.wqu + 500000) // 1000000)::BIGINT AS cu
  FROM m e JOIN q ON e.bucket = q.bucket AND e.doc_id <> q.q_id
  GROUP BY q.q_id, e.doc_id)
SELECT q_id, doc_id AS cand_id, cu::DOUBLE / 1000000 AS cos, rk FROM (
  SELECT q_id, doc_id, cu,
         row_number() OVER (PARTITION BY q_id ORDER BY cu DESC, doc_id) AS rk
  FROM s)
WHERE rk <= $DocSimK"""

  // ---- L100 (r8): pruned-index retrieval + exact rerank ----
  // docSimilarity's bucket join is exact but its posting volume grows
  // with document LENGTH — every occupied bucket of every corpus doc
  // joins. The scale recipe every IVF-PQ/ColBERT-style stack uses
  // (and L49 already proved on vectors) is retrieve-then-rerank:
  // (1) RETRIEVE over a PRUNED inverted index — only each doc's
  // top-m strongest postings (m=8, by weight desc then bucket) are
  // indexed, so index size and join volume are m·|D| REGARDLESS of
  // doc length — rank top-C candidates per query by the pruned
  // integer dot; (2) RERANK only those C candidates with the exact
  // full-vector dot (work ∝ C·|Q| pairs · postings/doc, corpus-size-
  // independent), emit exact top-k. Both stages ride the same
  // micro-unit integer arithmetic as docSimilarity, so the oracle
  // replays candidate generation AND rerank bit-for-bit; the spec
  // pins recall vs the exhaustive path and exact-cos agreement on
  // every emitted pair.
  private val RerankM = 12  // postings kept per doc in the pruned index
  private val RerankC = 40  // candidates per query surviving to rerank

  def docSimilarityRerank(documents: DataFrame,
      querySet: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    import spark.implicits._
    val qDocs = querySet.getOrElse(documents.where(col("doc_id") % 97 === 0))
      .select(col("doc_id"))
    val nq = qDocs.limit((DocSimQueryCap + 1).toInt).count()
    require(nq <= DocSimQueryCap,
      s"doc-similarity query set exceeds the $DocSimQueryCap-doc cap: pass a small " +
        "external query table (querySet = Some(df)) instead of a corpus-derived slice")
    val emb = microWeights(docEmbed(documents))
    val queries = microWeights(docEmbed(documents.join(broadcast(qDocs), "doc_id")))
      .select(col("doc_id").as("q_id"), col("bucket"), col("wu").as("wqu"))
    val pruned = emb
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("wu").desc, col("bucket"))))
      .where(col("rn") <= RerankM).drop("rn")
    val prunedQ = queries
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("wqu").desc, col("bucket"))))
      .where(col("rn") <= RerankM).drop("rn")
    val approx = pruned.join(broadcast(prunedQ), "bucket")
      .where(col("q_id") =!= col("doc_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(expr("(wu * wqu + 500000) div 1000000")).as("acu"))
    val candAgg = new graft.functions.TopKAggregator(RerankC).toColumn
    val cands = approx
      .select(col("q_id"), col("doc_id").as("id"), col("acu").cast("double").as("score"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => graft.functions.ScoredId(r._2, r._3))
      .agg(candAgg)
      .flatMap { case (q, top) => top.iterator.map(e => (q, e.id)) }
      .toDF("q_id", "cand_id")
    val exact = broadcast(cands)
      .join(emb, cands("cand_id") === emb("doc_id"))
      .join(broadcast(queries), Seq("q_id", "bucket"))
      .groupBy(col("q_id"), col("cand_id"))
      .agg(sum(expr("(wu * wqu + 500000) div 1000000")).as("cu"))
      .select(col("q_id"), col("cand_id"),
        (col("cu").cast("double") / 1e6).as("cos"))
    val agg = new graft.functions.TopKAggregator(DocSimK).toColumn
    exact
      .select(col("q_id"), col("cand_id").as("id"), col("cos").as("score"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => graft.functions.ScoredId(r._2, r._3))
      .agg(agg)
      .flatMap { case (q, top) =>
        top.iterator.zipWithIndex.map { case (e, i) => (q, e.id, e.score, (i + 1).toLong) }
      }
      .toDF("q_id", "cand_id", "cos", "rk")
  }

  lazy val docSimilarityRerankSql: String =
    s"""WITH emb AS ($docEmbedSql),
m AS (SELECT doc_id, bucket, round(w * 1000000)::BIGINT AS wu FROM emb),
q AS (SELECT doc_id AS q_id, bucket, wu AS wqu FROM m WHERE doc_id % 97 = 0),
pm AS (SELECT doc_id, bucket, wu FROM (
  SELECT doc_id, bucket, wu,
         row_number() OVER (PARTITION BY doc_id ORDER BY wu DESC, bucket) AS rn
  FROM m) WHERE rn <= $RerankM),
pq AS (SELECT q_id, bucket, wqu FROM (
  SELECT q_id, bucket, wqu,
         row_number() OVER (PARTITION BY q_id ORDER BY wqu DESC, bucket) AS rn
  FROM q) WHERE rn <= $RerankM),
a AS (SELECT pq.q_id, pm.doc_id,
    sum((pm.wu * pq.wqu + 500000) // 1000000)::BIGINT AS acu
  FROM pm JOIN pq ON pm.bucket = pq.bucket AND pm.doc_id <> pq.q_id
  GROUP BY pq.q_id, pm.doc_id),
c AS (SELECT q_id, doc_id AS cand_id FROM (
  SELECT q_id, doc_id,
         row_number() OVER (PARTITION BY q_id ORDER BY acu DESC, doc_id) AS rn
  FROM a) WHERE rn <= $RerankC),
x AS (SELECT c.q_id, c.cand_id,
    sum((m.wu * q.wqu + 500000) // 1000000)::BIGINT AS cu
  FROM c JOIN m ON m.doc_id = c.cand_id
         JOIN q ON q.q_id = c.q_id AND q.bucket = m.bucket
  GROUP BY c.q_id, c.cand_id)
SELECT q_id, cand_id, cu::DOUBLE / 1000000 AS cos, rk FROM (
  SELECT q_id, cand_id, cu,
         row_number() OVER (PARTITION BY q_id ORDER BY cu DESC, cand_id) AS rk
  FROM x)
WHERE rk <= $DocSimK"""

  // ---- L93 (r7): seeded word-dropout augmentation ----
  // Deterministic data augmentation (UDA/consistency-training recipe,
  // also the "rejected"-variant synthesizer for preference data):
  // drop each token with p = 1/8, decided by md5("aug:" doc ":" pos)
  // parity — SEEDED, so the augmented corpus is a pure function of
  // the input (re-runnable pipelines, cacheable shards), and
  // position-keyed, so the same word drops independently at each
  // occurrence. Position 1 never drops (a doc can't augment to
  // empty). PURE MAP — the per-row filter() HOF closes over its own
  // row only; zero shuffles, fused into the scan. Output carries
  // exact accounting (kept/dropped counts + md5 of the augmented
  // text); the spec pins the drop-rate band, determinism, order
  // preservation, and the never-empty guard.
  def augmentDropout(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val kept = filter(toks, (t, i) =>
      i === 0 || pmod(md5Long(lit("aug"),
        concat(col("doc_id").cast("string"), lit(":"), (i + 1).cast("string"))),
        lit(8)) =!= 0)
    documents.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      (size(toks) - size(kept)).cast("long").as("n_dropped"),
      md5(concat_ws(" ", kept)).as("aug_md5"))
  }

  val augmentDropoutSql: String = {
    val h = graft.functions.Portable.md5LongSql("'aug'", "doc_id::VARCHAR || ':' || i::VARCHAR")
    s"""WITH base AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents),
k AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
    list_transform(list_filter(generate_series(1, len(t)),
      i -> i = 1 OR $h % 8 <> 0), i -> t[i]) AS kept
  FROM base)
SELECT doc_id, n_tokens, (n_tokens - len(kept))::BIGINT AS n_dropped,
       md5(array_to_string(kept, ' ')) AS aug_md5
FROM k"""
  }

  // ---- L88 (r7): Zipf rank-frequency fit — corpus-health audit ----
  // Natural text follows Zipf's law (freq ∝ rank^−s, s ≈ 1); a corpus
  // whose token distribution departs hard from the power law is a
  // known contamination/degeneracy signal (template spam flattens the
  // head, boilerplate repetition steepens it, synthetic text drifts
  // both ways). The audit: OLS of ln(freq) on ln(rank) over the top-V
  // token frame — slope, intercept, r². Stopwords stay IN (they are
  // the head of the law). Scale: one partial-agged (token) aggregate,
  // a TakeOrdered top-V cut (the L35 contract — never a vocab-wide
  // sort), then the rank window + OLS run on the V-row frame, bounded
  // by construction. Portability: ln is IEEE-identical (L24/L65
  // precedent); log-domain sums ride DECIMAL(18,6) over round-6
  // values; the slope/r² expression is textually mirrored in the
  // oracle so the double op sequence is identical (the C40 pattern).
  private val ZipfTopV = 64

  def zipfFit(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freqs = documents
      .select(explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(ZipfTopV)
    val w = Window.orderBy(col("freq").desc, col("token").asc)
    val pts = freqs
      .withColumn("rk", row_number().over(w))
      .select(round(log(col("rk").cast("double")), 6).as("x"),
        round(log(col("freq").cast("double")), 6).as("y"))
    val s = pts.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,6)")).as("sx"),
      sum(col("y").cast("decimal(18,6)")).as("sy"),
      sum(round(col("x") * col("x"), 6).cast("decimal(18,6)")).as("sxx"),
      sum(round(col("x") * col("y"), 6).cast("decimal(18,6)")).as("sxy"),
      sum(round(col("y") * col("y"), 6).cast("decimal(18,6)")).as("syy"))
    val slopeQ = "(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))"
    s.selectExpr("n AS n_terms",
      s"round($slopeQ, 6) AS slope",
      s"round((cast(sy as double) - ($slopeQ) * cast(sx as double)) / cast(n as double), 6) AS intercept",
      s"round((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) * (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / nullif((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) * (cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)), 0.0), 6) AS r2")
  }

  val zipfFitSql: String = {
    val slopeQ = "(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))"
    s"""WITH f AS (SELECT token, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents)
  WHERE length(token) > 0 GROUP BY token ORDER BY freq DESC, token LIMIT $ZipfTopV),
r AS (SELECT round(ln(row_number() OVER (ORDER BY freq DESC, token)), 6) AS x,
             round(ln(freq), 6) AS y FROM f),
s AS (SELECT count(*) AS n, sum(x::DECIMAL(18,6)) AS sx, sum(y::DECIMAL(18,6)) AS sy,
             sum(round(x * x, 6)::DECIMAL(18,6)) AS sxx,
             sum(round(x * y, 6)::DECIMAL(18,6)) AS sxy,
             sum(round(y * y, 6)::DECIMAL(18,6)) AS syy FROM r)
SELECT n AS n_terms,
  round($slopeQ, 6) AS slope,
  round((cast(sy as double) - ($slopeQ) * cast(sx as double)) / cast(n as double), 6) AS intercept,
  round((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) * (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / nullif((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) * (cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)), 0.0), 6) AS r2
FROM s"""
  }

  val normalizeSql: String = {
    val norm = "trim(regexp_replace(regexp_replace(lower(pert), '[[:cntrl:]]', ' ', 'g'), ' +', ' ', 'g'))"
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
p AS (SELECT doc_id, text, string_agg(
    (CASE WHEN i % 13 = 0 THEN chr(9) || ' ' ELSE '' END) ||
    (CASE WHEN (doc_id + i) % 5 = 0 THEN upper(toks[i]) ELSE toks[i] END), ' ' ORDER BY i) AS pert
  FROM t, unnest(generate_series(1, len(toks))) AS g(i)
  GROUP BY doc_id, text)
SELECT doc_id,
  (length(pert) - length(regexp_replace(pert, '[A-Z]', '', 'g')))::BIGINT AS n_upper,
  (length(pert) - length(regexp_replace(pert, '\t', '', 'g')))::BIGINT AS n_tabs,
  md5(""" + norm + ") AS norm_md5,\n  (" + norm + " = text)::BIGINT AS restored\nFROM p"
  }

  // ---- L108 (r8): language-ID confusion audit ----
  // L8 predicts a language; this scores it against the corpus's
  // ground-truth labels as a full CONFUSION MATRIX — the readout that
  // says not just "how accurate" but WHICH languages leak into which
  // (the es↔fr stopword overlap, the und fallback rate), i.e. where
  // to spend the next stopword list. Pure composition: one (actual,
  // predicted) aggregate over L8's output plus per-actual recall —
  // the L107 evaluates-its-sibling pattern on the text side. Cells
  // are exact counts; recall is the one round-6 division.
  def langConfusion(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langId(documents)
      .groupBy(col("actual_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_actual",
        sum(col("n")).over(Window.partitionBy("actual_lang")))
      .select(col("actual_lang"), col("pred_lang"), col("n"),
        round(col("n").cast("double") / col("n_actual"), 6).as("share"),
        (col("actual_lang") === col("pred_lang")).cast("long").as("correct"))
  }

  lazy val langConfusionSql: String =
    s"""WITH l8 AS ($langIdSql),
c AS (SELECT actual_lang, pred_lang, count(*)::BIGINT AS n
  FROM l8 GROUP BY 1, 2),
t AS (SELECT actual_lang, sum(n)::BIGINT AS n_actual FROM c GROUP BY 1)
SELECT c.actual_lang, c.pred_lang, c.n,
  round(c.n::DOUBLE / t.n_actual, 6) AS share,
  (c.actual_lang = c.pred_lang)::BIGINT AS correct
FROM c JOIN t USING (actual_lang)"""

  // ---- L116 (r9): Cohen's kappa — chance-corrected label agreement ----
  // The label-quality readout L108's confusion matrix feeds: raw
  // agreement po flatters any skewed label set (a constant annotator
  // scores po = majority share), so annotation pipelines gate on
  // kappa = (po − pe)/(1 − pe), the agreement beyond what marginal
  // chance pe = Σ_c rowmarg_c·colmarg_c / n² predicts. Annotators:
  // the declared lang column vs the L8 detector — the exact pair a
  // relabeling QA compares. ENTIRELY integer until one division:
  // kappa = (n·Σdiag − Σ rm·cm) / (n² − Σ rm·cm), every term an
  // exact product of BIGINT counts in DECIMAL(38,0). Plan: one L8
  // map pass, one lang-alphabet-bounded confusion aggregate, margins
  // joined on the ≤|langs|² frame — nothing corpus-wide shuffles
  // twice.
  def cohenKappa(documents: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val conf = langId(documents)
      .groupBy(col("actual_lang"), col("pred_lang"))
      .agg(count(lit(1)).cast(d38).as("c"))
    val rm = conf.groupBy(col("actual_lang")).agg(sum(col("c")).as("rm"))
    val cm = conf.groupBy(col("pred_lang")).agg(sum(col("c")).as("cm"))
    val cross = rm.join(cm, rm("actual_lang") === cm("pred_lang"), "full")
      .select(coalesce(col("rm"), lit(0)).cast(d38).as("rm"),
        coalesce(col("cm"), lit(0)).cast(d38).as("cm"))
      .agg(sum(col("rm") * col("cm")).as("rmcm"), sum(col("rm")).as("n"))
    val diag = conf.agg(
      sum(when(col("actual_lang") === col("pred_lang"), col("c")).otherwise(lit(0).cast(d38)))
        .as("agree"))
    // r10 (ADVICE r9): degenerate inputs — an empty corpus (n = 0) or
    // two constant annotators (pe = 1 ⇒ n² = rmcm) — must yield an
    // explicit NULL, not an engine-dependent NaN/Inf from a 0-division
    cross.crossJoin(broadcast(diag))
      .select(col("n").cast("long").as("n"),
        col("agree").cast("long").as("n_agree"),
        round(col("agree").cast("double") /
          nullif(col("n"), lit(0).cast("decimal(38,0)")).cast("double"), 6).as("po"),
        round(col("rmcm").cast("double") /
          nullif(col("n") * col("n"), lit(0).cast("decimal(38,0)")).cast("double"), 6).as("pe"),
        round((col("n") * col("agree") - col("rmcm")).cast("double") /
          nullif(col("n") * col("n") - col("rmcm"), lit(0).cast("decimal(38,0)"))
            .cast("double"), 6).as("kappa"))
  }

  lazy val cohenKappaSql: String =
    s"""WITH l8 AS ($langIdSql),
conf AS (SELECT actual_lang, pred_lang, count(*)::HUGEINT AS c
  FROM l8 GROUP BY 1, 2),
rm AS (SELECT actual_lang AS lang, sum(c)::HUGEINT AS rm FROM conf GROUP BY 1),
cm AS (SELECT pred_lang AS lang, sum(c)::HUGEINT AS cm FROM conf GROUP BY 1),
cross_ AS (
  SELECT sum(coalesce(rm.rm, 0::HUGEINT) * coalesce(cm.cm, 0::HUGEINT))::HUGEINT AS rmcm,
         sum(coalesce(rm.rm, 0::HUGEINT))::HUGEINT AS n
  FROM rm FULL JOIN cm USING (lang)),
diag AS (SELECT sum(CASE WHEN actual_lang = pred_lang THEN c ELSE 0::HUGEINT END)::HUGEINT
    AS agree FROM conf)
SELECT n::BIGINT AS n, agree::BIGINT AS n_agree,
  round(agree::DOUBLE / nullif(n, 0)::DOUBLE, 6) AS po,
  round(rmcm::DOUBLE / nullif(n * n, 0)::DOUBLE, 6) AS pe,
  round((n * agree - rmcm)::DOUBLE / nullif(n * n - rmcm, 0)::DOUBLE, 6) AS kappa
FROM cross_ CROSS JOIN diag"""

  // ---- L103 (r8): blocklist phrase tagging ----
  // The dictionary-tagging pass every safety/compliance pipeline runs
  // (blocklists, brand terms, jailbreak markers): find every document
  // containing any of K multi-word phrases as an exact TOKEN SEQUENCE.
  // The naive regex alternation (one giant `(p1|p2|…)` pattern) is the
  // wrong tool at K in the thousands — pattern compilation blows up
  // and every byte of the corpus is scanned K-ways. The scale shape is
  // a dictionary JOIN (the FlashText/Aho-Corasick insight expressed
  // relationally): explode token positions once, hash-join the
  // ANCHOR (first token) against the broadcast phrase table, and
  // verify the remaining tokens with one array-slice comparison
  // against the doc's own token array — work ∝ corpus tokens +
  // anchor hits, independent of K. Matching is case-folded,
  // whitespace-tokenized, overlap-counting (each start position
  // counts once). Output: one row per (doc, phrase) with the hit
  // count. The phrase table is declared model state (a blocklist is
  // configuration, like the L13 stopword list).
  private[graft] val Blocklist: Seq[String] = Seq(
    "big data", "table scan", "window group", "spark stream",
    "slow scan", "big data scan")

  def blocklistTag(documents: DataFrame,
      phrases: Seq[String] = Blocklist): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.trim.nonEmpty),
      "blocklist must be non-empty phrases")
    val spark = documents.sparkSession
    import spark.implicits._
    val phraseDf = phrases.map { p =>
        val ts = p.toLowerCase.split("\\s+").toSeq
        (p, ts.head, ts.drop(1), ts.length)
      }.toDF("phrase", "anchor", "tail", "plen")
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .join(broadcast(phraseDf), col("tok") === col("anchor"))
      // slice is 1-based: tokens AFTER the anchor start at pos+2
      .where(slice(col("toks"), col("pos") + 2, col("plen") - 1) === col("tail"))
      .groupBy(col("doc_id"), col("phrase"))
      .agg(count(lit(1)).as("n_hits"))
  }

  lazy val blocklistTagSql: String = {
    val values = Blocklist.map { p =>
      val ts = p.toLowerCase.split("\\s+")
      val tail = ts.drop(1).map(t => s"'$t'").mkString("[", ", ", "]")
      s"('$p', '${ts.head}', $tail, ${ts.length})"
    }.mkString(",\n    ")
    s"""WITH ph(phrase, anchor, tail, plen) AS (VALUES
    $values),
t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM documents),
pos AS (SELECT doc_id, toks, g.i - 1 AS pos, toks[g.i] AS tok
  FROM t, unnest(generate_series(1, len(toks))) AS g(i))
SELECT doc_id, phrase, count(*)::BIGINT AS n_hits
FROM pos JOIN ph ON pos.tok = ph.anchor
WHERE toks[pos + 2 : pos + plen] = ph.tail
GROUP BY doc_id, phrase"""
  }

  // ---- L110 (r9): Luhn-validated PAN detection + masking ----
  // L18 redacts by PATTERN; payment-card numbers need the checksum
  // step — a 16-digit run is only PII if it Luhn-validates, and
  // masking every digit run would shred order ids and timestamps. The
  // validator is the real thing: digits from the right, every second
  // doubled with 9-subtraction, sum ≡ 0 (mod 10) — pure integer
  // arithmetic via a codegen'd aggregate() fold on one side and
  // list_sum(list_transform(...)) on the other, identical by
  // construction. The corpus text carries no digits, so the query
  // runs over a PAN column SYNTHESIZED from order keys (the C35
  // md5-synthesis precedent, stated openly): 15 md5-derived digits +
  // an md5 check digit, making ~10% of lines Luhn-valid — the report
  // proves detection AND non-detection. Masking replaces only the
  // VALIDATED number; the md5 of the masked line makes the oracle
  // check the replacement byte-for-byte (the L18 contract). Map-only.
  private val LuhnSumExpr =
    """aggregate(sequence(0, length(cand) - 1), 0L, (acc, i) -> acc +
  CASE WHEN i % 2 = 0 THEN ascii(substring(cand, length(cand) - i, 1)) - 48
       WHEN 2 * (ascii(substring(cand, length(cand) - i, 1)) - 48) > 9
         THEN 2 * (ascii(substring(cand, length(cand) - i, 1)) - 48) - 9
       ELSE 2 * (ascii(substring(cand, length(cand) - i, 1)) - 48) END)"""

  def luhnScrub(orders0: DataFrame): DataFrame = {
    // the per-row cost here is two md5 derivations + the Luhn digit
    // walk — CPU-dense and map-only, the exact shape a single-split
    // local scan serializes (the q_curation_web lesson); only
    // o_orderkey is read and nothing pushes into the scan, so the
    // conditional spread is free of pushdown cost
    val orders = Scale.spreadNarrowScan(orders0.select(col("o_orderkey")),
      col("o_orderkey"))
    val lines = orders.select(col("o_orderkey"),
      concat(lit("card "),
        lpad(pmod(md5Long(lit("cc"), col("o_orderkey")), lit(1000000000000000L))
          .cast("string"), 15, "0"),
        pmod(md5Long(lit("cd"), col("o_orderkey")), lit(10)).cast("string"),
        lit(" on file")).as("line"))
    lines
      .withColumn("cand", regexp_extract(col("line"), "[0-9]{13,16}", 0))
      .withColumn("luhn_sum", expr(LuhnSumExpr))
      .withColumn("valid", (pmod(col("luhn_sum"), lit(10)) === 0).cast("long"))
      .select(col("o_orderkey"),
        substring(col("cand"), -4, 4).as("last4"),
        col("valid"),
        md5(when(col("valid") === 1, regexp_replace(col("line"), col("cand"), lit("<CC>")))
          .otherwise(col("line"))).as("masked_md5"))
  }

  val luhnScrubSql: String = {
    val h15 = graft.functions.Portable.md5LongSql("'cc'", "o_orderkey")
    val hd = graft.functions.Portable.md5LongSql("'cd'", "o_orderkey")
    s"""WITH lines AS (
  SELECT o_orderkey,
    'card ' || lpad((($h15 % 1000000000000000 + 1000000000000000) % 1000000000000000)::VARCHAR, 15, '0')
      || (($hd % 10 + 10) % 10)::VARCHAR || ' on file' AS line
  FROM orders),
c AS (
  SELECT o_orderkey, line, regexp_extract(line, '[0-9]{13,16}') AS cand
  FROM lines),
s AS (
  SELECT o_orderkey, line, cand,
    list_sum(list_transform(generate_series(0, length(cand) - 1), i ->
      CASE WHEN i % 2 = 0 THEN substr(cand, length(cand) - i, 1)::INT
           WHEN 2 * substr(cand, length(cand) - i, 1)::INT > 9
             THEN 2 * substr(cand, length(cand) - i, 1)::INT - 9
           ELSE 2 * substr(cand, length(cand) - i, 1)::INT END))::BIGINT AS luhn_sum
  FROM c)
SELECT o_orderkey, substr(cand, length(cand) - 3, 4) AS last4,
  (luhn_sum % 10 = 0)::BIGINT AS valid,
  md5(CASE WHEN luhn_sum % 10 = 0 THEN replace(line, cand, '<CC>') ELSE line END)
    AS masked_md5
FROM s"""
  }

  // ---- L114 (r9): PII span consolidation — offsets + interval union ----
  // Redaction pipelines need SPANS, not counts: each detector (email,
  // URL, PAN...) reports [start, len) character intervals, and the
  // spans OVERLAP — an email inside a URL must redact once, not twice
  // (double-replacement corrupts offsets for every later span). Per
  // pattern, match offsets come from the split-fragment prefix sums
  // (the L74 technique: start_i = 1 + Σ fragments≤i + Σ matches<i —
  // exact integers, no regex-engine position API needed); the union of
  // detectors then coalesces per doc with the C58 lag/cumsum interval
  // union on the tiny per-doc span frame. The corpus carries no PII,
  // so the query appends a deterministic payload per doc (the L26
  // oracle-pinned-injection precedent) with an email, a URL, and a
  // second email INSIDE the URL — the overlap case is always
  // exercised. Per-doc output: raw spans, merged spans, covered chars.
  def piiSpans(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pert = documents.select(col("doc_id"),
      concat(col("text"), lit(" contact a"), col("doc_id"), lit("@ex.com via http://h"),
        col("doc_id"), lit(".org/u/a"), col("doc_id"), lit("@ex.com end")).as("t"))
    def spansOf(re: String): DataFrame = pert
      .select(col("doc_id"),
        split(col("t"), re, -1).as("frag"),
        regexp_extract_all(col("t"), lit(re), lit(0)).as("ms"))
      .select(col("doc_id"), col("frag"), col("ms"),
        posexplode(col("ms")).as(Seq("i", "m")))
      // start of 0-based match i = 1 + len(frag_0..i) + len(m_0..i-1)
      .select(col("doc_id"),
        (lit(1L) +
          expr("aggregate(slice(frag, 1, i + 1), 0L, (a, x) -> a + length(x))") +
          expr("aggregate(slice(ms, 1, i), 0L, (a, x) -> a + length(x))")).as("start0"),
        length(col("m")).cast("long").as("len"))
    val raw = spansOf(EmailRe).unionAll(spansOf(UrlRe))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val merged = raw
      .select(col("doc_id"), col("start0").as("s"), (col("start0") + col("len")).as("e"))
      .withColumn("new_span",
        when(col("s") <= max(col("e")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), 0L).otherwise(1L))
      .withColumn("span_id", sum(col("new_span"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
    raw.groupBy(col("doc_id")).agg(count(lit(1)).as("n_raw_spans"))
      .join(merged.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_merged_spans"),
          sum(col("me") - col("ms")).as("covered_chars")), "doc_id")
  }

  val piiSpansSql: String =
    s"""WITH pert AS (
  SELECT doc_id, text || ' contact a' || doc_id || '@ex.com via http://h' || doc_id
    || '.org/u/a' || doc_id || '@ex.com end' AS t
  FROM documents),
em AS (
  SELECT doc_id, str_split_regex(t, '$EmailRe') AS frag,
    regexp_extract_all(t, '$EmailRe', 0) AS ms
  FROM pert),
ur AS (
  SELECT doc_id, str_split_regex(t, '$UrlRe') AS frag,
    regexp_extract_all(t, '$UrlRe', 0) AS ms
  FROM pert),
spans AS (
  SELECT doc_id,
    (1 + list_sum(list_transform(frag[1 : i], x -> length(x)))
       + coalesce(list_sum(list_transform(ms[1 : i - 1], x -> length(x))), 0))::BIGINT AS s,
    (1 + list_sum(list_transform(frag[1 : i], x -> length(x)))
       + coalesce(list_sum(list_transform(ms[1 : i - 1], x -> length(x))), 0)
       + length(ms[i]))::BIGINT AS e
  FROM (SELECT doc_id, frag, ms FROM em UNION ALL SELECT doc_id, frag, ms FROM ur),
    unnest(generate_series(1, len(ms))) AS g(i)),
flagged AS (
  SELECT doc_id, s, e,
    CASE WHEN s <= max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      THEN 0 ELSE 1 END AS new_span
  FROM spans),
grp AS (
  SELECT doc_id, s, e,
    sum(new_span) OVER (PARTITION BY doc_id ORDER BY s, e
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
  FROM flagged),
m AS (
  SELECT doc_id, span_id, min(s) AS ms, max(e) AS me
  FROM grp GROUP BY doc_id, span_id)
SELECT r.doc_id, r.n_raw_spans, mm.n_merged_spans, mm.covered_chars
FROM (SELECT doc_id, count(*)::BIGINT AS n_raw_spans FROM spans GROUP BY doc_id) r
JOIN (SELECT doc_id, count(*)::BIGINT AS n_merged_spans,
    sum(me - ms)::BIGINT AS covered_chars FROM m GROUP BY doc_id) mm
  USING (doc_id)"""

  // ---- L111 (r9): Kneser-Ney smoothed bigram LM ----
  // The smoothing that made n-gram LMs work (and the one L24's
  // add-k proxy approximates): absolute discounting plus the
  // CONTINUATION back-off — P(w2|w1) = max(c12 − D, 0)/c1 +
  // (D·N1+(w1·)/c1) · (N1+(·w2)/B), where N1+ counts distinct
  // continuations, not tokens ("san francisco" is frequent but
  // "francisco" continues almost nothing, so its unigram back-off is
  // tiny — the insight add-k misses). D = 0.75, the standard value.
  // Every input to the formula is an exact BIGINT (bigram counts,
  // context totals, continuation cardinalities, the global bigram-type
  // count as the one single-row broadcast); the float sequence runs
  // once per released row, identically on both engines, round 6.
  // Scale: the L15 gram pipeline's shuffles (gram-keyed), two distinct
  // aggregates, keyed joins — nothing quadratic, alphabet-bounded
  // output under the support floor.
  private val KnMinSupport = 3L

  def kneserNey(documents: DataFrame): DataFrame = {
    val bg = documents
      .select(explode(VectorFunctions.grams(tokens(col("text")), 2)).as("bigram"))
      .select(substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint() // feeds c1, both continuation frames, and the join
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("n_cont_right"))
    val contLeft = c2.groupBy(col("w2")).agg(count(lit(1)).as("n_cont_left"))
    val b = c2.agg(count(lit(1)).as("b"))
    c2.where(col("c12") >= KnMinSupport)
      .join(c1, "w1")
      .join(contLeft, "w2")
      .crossJoin(broadcast(b))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n_cont_right"), col("n_cont_left"), col("b"),
        round(
          greatest(col("c12").cast("double") - 0.75, lit(0.0)) / col("c1") +
            (lit(0.75) * col("n_cont_right") / col("c1")) *
              (col("n_cont_left").cast("double") / col("b")), 6).as("p_kn"))
  }

  val kneserNeySql: String = {
    val grams = graft.functions.Portable.wordGramsSql(
      "string_split_regex(lower(text), '\\s+')", 2)
    s"""WITH bg AS (
  SELECT string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[-1] AS w2
  FROM (SELECT unnest($grams) AS bigram FROM documents)),
c2 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*)::BIGINT AS n_cont_right
  FROM c2 GROUP BY w1),
cl AS (SELECT w2, count(*)::BIGINT AS n_cont_left FROM c2 GROUP BY w2),
b AS (SELECT count(*)::BIGINT AS b FROM c2)
SELECT c2.w1, c2.w2, c2.c12, c1.c1, c1.n_cont_right, cl.n_cont_left, b.b,
  round(greatest(c2.c12::DOUBLE - 0.75, 0.0) / c1.c1 +
    (0.75 * c1.n_cont_right / c1.c1) * (cl.n_cont_left::DOUBLE / b.b), 6) AS p_kn
FROM c2
JOIN c1 USING (w1)
JOIN cl USING (w2)
CROSS JOIN b
WHERE c2.c12 >= $KnMinSupport"""
  }

  // ---- L113 (r9): readability scoring (Flesch-style) ----
  // The classic document-difficulty signal (curriculum ordering,
  // audience filtering, the "too simple / too dense" quality axes L9's
  // ratios don't capture): words per sentence and syllables per word,
  // combined by the Flesch reading-ease formula. Syllables use the
  // standard vowel-group proxy (count of [aeiouy]+ runs — both
  // regex engines agree, RE2-compatible pattern), sentences the
  // [.!?]+ terminator groups with a floor of 1 (the corpus's word-soup
  // docs are one "sentence" — declared). All counts exact integers;
  // the formula is the one float sequence, round 4. Map-only.
  def readability(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("n_words"),
      greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("long")
        .as("n_sentences"),
      regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long").as("n_syllables"))
      .where(col("n_words") > 0)
      .withColumn("flesch", round(
        lit(206.835) - lit(1.015) * col("n_words").cast("double") / col("n_sentences")
          - lit(84.6) * col("n_syllables").cast("double") / col("n_words"), 4))
      .withColumn("band",
        when(col("flesch") >= 60, "easy")
          .when(col("flesch") >= 30, "standard").otherwise("difficult"))

  val readabilitySql: String =
    """SELECT doc_id, n_words, n_sentences, n_syllables,
  round(206.835 - 1.015 * n_words::DOUBLE / n_sentences
    - 84.6 * n_syllables::DOUBLE / n_words, 4) AS flesch,
  CASE WHEN round(206.835 - 1.015 * n_words::DOUBLE / n_sentences
      - 84.6 * n_syllables::DOUBLE / n_words, 4) >= 60 THEN 'easy'
    WHEN round(206.835 - 1.015 * n_words::DOUBLE / n_sentences
      - 84.6 * n_syllables::DOUBLE / n_words, 4) >= 30 THEN 'standard'
    ELSE 'difficult' END AS band
FROM (
  SELECT doc_id,
    len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT AS n_words,
    greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS n_sentences,
    len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS n_syllables
  FROM documents)
WHERE n_words > 0"""

  // ---- L112 (r9): exact source-overlap matrix over winnowing fingerprints ----
  // L67 answers source-pair overlap with KMV SKETCHES; this is the
  // exact twin at fingerprint granularity (and the provenance
  // question L52 answers for doc pairs, lifted to sources): which
  // SOURCES share robustly-positioned substrings, by exact Jaccard
  // over their winnow fingerprint sets. The (source, fp) frame
  // collapses first (distinct — source sizes are fingerprint-set
  // cardinalities), the pair join keys on the fingerprint (per fp at
  // most |sources| rows, so fan-out is alphabet-bounded per key), and
  // every released number is an exact BIGINT ratio rounded once.
  def sourceFpOverlap(documents: DataFrame): DataFrame = {
    val sfp = documents
      .select(col("source"), explode(VectorFunctions.winnow(col("text"))).as("fp"))
      .distinct()
      .localCheckpoint() // feeds sizes AND the pair join
    val sizes = sfp.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val inter = sfp.as("a")
      .join(sfp.as("b"), col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("source").as("s1"), col("sz").as("sz1")), "s1")
      .join(sizes.select(col("source").as("s2"), col("sz").as("sz2")), "s2")
      .select(col("s1"), col("s2"), col("n_shared"), col("sz1"), col("sz2"),
        round(col("n_shared").cast("double") /
          (col("sz1") + col("sz2") - col("n_shared")), 6).as("jaccard"))
  }

  val sourceFpOverlapSql: String = {
    val h = graft.functions.Portable.md5LongSql("'f'", "substr(lower(text), i, 5)")
    s"""WITH g AS (SELECT source,
  list_transform(generate_series(1, length(text) - 4), i -> $h) AS grams,
  length(text) AS n
FROM documents WHERE length(text) >= 8),
sfp AS (
  SELECT DISTINCT source, unnest(list_distinct(
    list_transform(generate_series(1, n - 7), j -> list_aggregate(grams[j:j+3], 'min')))) AS fp
  FROM g),
sizes AS (SELECT source, count(*)::BIGINT AS sz FROM sfp GROUP BY source),
inter AS (
  SELECT a.source AS s1, b.source AS s2, count(*)::BIGINT AS n_shared
  FROM sfp a JOIN sfp b ON a.fp = b.fp AND a.source < b.source
  GROUP BY 1, 2)
SELECT i.s1, i.s2, i.n_shared, z1.sz AS sz1, z2.sz AS sz2,
  round(i.n_shared::DOUBLE / (z1.sz + z2.sz - i.n_shared), 6) AS jaccard
FROM inter i
JOIN sizes z1 ON z1.source = i.s1
JOIN sizes z2 ON z2.source = i.s2"""
  }

  // ---- L131 (r10): n-gram duplication-rate curve ----
  // The corpus-redundancy fingerprint curation reports lead with
  // (RefinedWeb-style): for each n, what share of n-gram OCCURRENCES
  // is redundant (each distinct gram's occurrences beyond its first).
  // High dup at large n = copied passages (dedup will bite); high dup
  // only at small n = natural Zipf mass (it won't). One explode per n
  // over the token array (the 5 scans run in parallel; each gram
  // shuffles as a 16-byte md5, never the string — the L25 width rule),
  // one (n, hash) count, one 5-row rollup; exact ppm.
  def ngramDupCurve(documents: DataFrame): DataFrame = {
    val byN = (1 to 5).map { n =>
      documents.select(lit(n.toLong).as("n"),
        explode(VectorFunctions.grams(tokens(col("text")), n)).as("g"))
    }.reduce(_ unionAll _)
    byN.select(col("n"), md5(col("g")).as("h"))
      .groupBy(col("n"), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col("n"))
      .agg(sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct"),
        sum(when(col("c") > 1, col("c") - 1).otherwise(0L)).as("n_redundant"))
      .withColumn("dup_ppm", expr("(n_redundant * 1000000) div n_grams"))
  }

  val ngramDupCurveSql: String = {
    val tok = "string_split_regex(lower(text), '\\s+')"
    val arms = (1 to 5).map { n =>
      s"SELECT $n::BIGINT AS n, md5(unnest(${graft.functions.Portable.wordGramsSql(tok, n)})) AS h FROM documents"
    }.mkString("\n  UNION ALL ")
    s"""WITH g AS (
  $arms),
c AS (SELECT n, h, count(*)::BIGINT AS c FROM g GROUP BY 1, 2)
SELECT n, sum(c)::BIGINT AS n_grams, count(*)::BIGINT AS n_distinct,
  sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END)::BIGINT AS n_redundant,
  ((sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) * 1000000) // sum(c))::BIGINT AS dup_ppm
FROM c GROUP BY n"""
  }

  // ---- L132 (r10): Heaps-law fit — vocabulary growth per source ----
  // L88 fits the static rank-frequency law; the GROWTH law is the
  // other corpus-health axis: V(N) = k·N^beta (natural text: beta
  // 0.4-0.6; templated/looped text collapses toward 0 because new
  // tokens stop appearing). Sample points are id-prefix deciles —
  // bucket = (doc_id·10) div (max_id + 1), a value-based split off a
  // single-row broadcast max, NO corpus sort. V_d = types whose FIRST
  // bucket <= d (one min-aggregate over the term frame), N_d =
  // cumulative tokens; both cumulate over the <=10-row per-source
  // frame. beta/ln k via the C98 log-log OLS discipline: per-point ln
  // quantized DECIMAL(18,9) before the order-free sum, one fixed-order
  // float chain, round 6.
  def heapsFit(documents: DataFrame): DataFrame = {
    val mx = documents.agg(max(col("doc_id")).as("mx"))
    val toks = documents.crossJoin(broadcast(mx))
      .select(col("source"), expr("(doc_id * 10) div (mx + 1)").as("b"),
        explode(tokens(col("text"))).as("w"))
    val perBucket = toks.groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("tk"))
    val firstSeen = toks.groupBy(col("source"), col("w"))
      .agg(min(col("b")).as("fb"))
      .groupBy(col("source"), col("fb").as("b")).agg(count(lit(1)).as("nv"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("source")).orderBy(col("b"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val pts = perBucket.join(firstSeen, Seq("source", "b"), "left")
      .withColumn("cum_tk", sum(col("tk")).over(w))
      .withColumn("cum_v", sum(coalesce(col("nv"), lit(0L))).over(w))
      .select(col("source"), col("cum_tk"), col("cum_v"),
        log(col("cum_tk").cast("double")).as("x"),
        log(col("cum_v").cast("double")).as("y"))
    val d = "decimal(18,9)"
    val s = pts.groupBy(col("source")).agg(
      count(lit(1)).as("n_points"),
      max(col("cum_tk")).as("total_tokens"), max(col("cum_v")).as("vocab_size"),
      sum(col("x").cast(d)).as("sx"), sum(col("y").cast(d)).as("sy"),
      sum((col("x") * col("y")).cast(d)).as("sxy"),
      sum((col("x") * col("x")).cast(d)).as("sxx"))
    val slopeQ = "(cast(n_points as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / nullif(cast(n_points as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double), 0.0)"
    s.selectExpr("source", "n_points", "total_tokens", "vocab_size",
      s"round($slopeQ, 6) AS heaps_beta",
      s"round((cast(sy as double) - ($slopeQ) * cast(sx as double)) / cast(n_points as double), 6) AS ln_k")
  }

  val heapsFitSql: String = {
    val slopeQ = "(cast(n_points as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / nullif(cast(n_points as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double), 0.0)"
    s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
toks AS (
  SELECT source, (doc_id * 10) // (mx + 1) AS b,
    unnest(string_split_regex(lower(text), '\\s+')) AS w
  FROM documents CROSS JOIN mx),
perbucket AS (SELECT source, b, count(*)::BIGINT AS tk FROM toks GROUP BY 1, 2),
firstseen AS (
  SELECT source, fb AS b, count(*)::BIGINT AS nv
  FROM (SELECT source, w, min(b) AS fb FROM toks GROUP BY 1, 2)
  GROUP BY 1, 2),
pts AS (
  SELECT p.source,
    (sum(p.tk) OVER cw)::BIGINT AS cum_tk,
    (sum(coalesce(f.nv, 0)) OVER cw)::BIGINT AS cum_v
  FROM perbucket p LEFT JOIN firstseen f USING (source, b)
  WINDOW cw AS (PARTITION BY p.source ORDER BY p.b
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
lns AS (
  SELECT source, cum_tk, cum_v,
    ln(cum_tk::DOUBLE) AS x, ln(cum_v::DOUBLE) AS y
  FROM pts),
s AS (
  SELECT source, count(*)::BIGINT AS n_points,
    max(cum_tk)::BIGINT AS total_tokens, max(cum_v)::BIGINT AS vocab_size,
    sum(CAST(x AS DECIMAL(18,9))) AS sx, sum(CAST(y AS DECIMAL(18,9))) AS sy,
    sum(CAST(x * y AS DECIMAL(18,9))) AS sxy,
    sum(CAST(x * x AS DECIMAL(18,9))) AS sxx
  FROM lns GROUP BY 1)
SELECT source, n_points, total_tokens, vocab_size,
  round($slopeQ, 6) AS heaps_beta,
  round((cast(sy as double) - ($slopeQ) * cast(sx as double)) / cast(n_points as double), 6) AS ln_k
FROM s"""
  }

  // ---- L133 (r10): language-fit cosine — labeled-language verification ----
  // L108 audits the HARD prediction confusion; this scores how well
  // each doc's stopword profile matches its LABELED language's corpus
  // centroid — the continuous mislabel signal (fasttext-verification
  // shape) a relabeling pass thresholds on. Integer-exact core: doc
  // vector c_w and centroid h_w are raw counts, cosine numerator
  // Σ c_w·h_w and both norm-squares are exact DECIMAL(38,0) (cast
  // before products); the only floats are two correctly-rounded sqrts
  // and one division per doc, quantized DECIMAL(18,9) before the
  // order-free mean. Docs with zero stopword hits carry no signal and
  // are counted out separately, not scored. Plan: one token explode
  // filtered to the 30-word list, (doc, w) and (lang, w) aggregates,
  // a lang-alphabet-bounded broadcast join — no corpus pair work.
  def languageFit(documents: DataFrame): DataFrame = {
    val allWords = stopwords.flatMap(_._2).distinct
    val d38 = "decimal(38,0)"
    val hits = documents
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
      .where(col("w").isInCollection(allWords))
    val perDocW = hits.groupBy(col("doc_id"), col("lang"), col("w"))
      .agg(count(lit(1)).as("c"))
    val centroid = perDocW.groupBy(col("lang"), col("w")).agg(sum(col("c")).as("h"))
    val langNorm = centroid.groupBy(col("lang"))
      .agg(sum(col("h").cast(d38) * col("h")).as("hn2"))
    val fits = perDocW.join(broadcast(centroid), Seq("lang", "w"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c").cast(d38) * col("h")).as("num"),
        sum(col("c").cast(d38) * col("c")).as("cn2"))
      .join(broadcast(langNorm), "lang")
      .select(col("lang"), (col("num").cast("double") /
        (sqrt(col("cn2").cast("double")) * sqrt(col("hn2").cast("double"))))
        .as("fit"))
    val scored = fits.groupBy(col("lang")).agg(
      count(lit(1)).as("n_scored"),
      round(sum(col("fit").cast("decimal(18,9)")).cast("double") /
        count(lit(1)), 6).as("mean_fit"),
      sum(when(col("fit") < 0.5, 1L).otherwise(0L)).as("n_low_fit"))
    documents.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .join(scored, "lang")
      .select(col("lang"), col("n_docs"), col("n_scored"),
        (col("n_docs") - col("n_scored")).as("n_no_signal"),
        col("mean_fit"), col("n_low_fit"))
  }

  val languageFitSql: String = {
    val words = stopwords.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
    s"""WITH toks AS (
  SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\\s+')) AS w
  FROM documents),
f AS (
  SELECT doc_id, lang, w, count(*)::BIGINT AS c
  FROM toks WHERE w IN ($words) GROUP BY 1, 2, 3),
cen AS (SELECT lang, w, sum(c)::BIGINT AS h FROM f GROUP BY 1, 2),
hn AS (SELECT lang, sum(h::HUGEINT * h)::DECIMAL(38,0) AS hn2 FROM cen GROUP BY 1),
pd AS (
  SELECT f.doc_id, f.lang,
    sum(f.c::HUGEINT * cen.h)::DECIMAL(38,0) AS num,
    sum(f.c::HUGEINT * f.c)::DECIMAL(38,0) AS cn2
  FROM f JOIN cen USING (lang, w) GROUP BY 1, 2),
fit AS (
  SELECT lang, num::DOUBLE / (sqrt(cn2::DOUBLE) * sqrt(hn2::DOUBLE)) AS fit
  FROM pd JOIN hn USING (lang)),
sc AS (
  SELECT lang, count(*)::BIGINT AS n_scored,
    round(sum(CAST(fit AS DECIMAL(18,9)))::DOUBLE / count(*), 6) AS mean_fit,
    sum((fit < 0.5)::INT)::BIGINT AS n_low_fit
  FROM fit GROUP BY 1),
tot AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1)
SELECT lang, n_docs, n_scored, (n_docs - n_scored)::BIGINT AS n_no_signal,
  mean_fit, n_low_fit
FROM tot JOIN sc USING (lang)"""
  }

  // ---- C126 (r10): decile gains table — classifier triage readout ----
  // C101 scores a model's RANKING globally (AUC); the gains table is
  // what the filtering decision actually reads: rank the corpus by the
  // L31 classifier logit, cut into rank deciles, and report how much
  // of the positive mass (L9 weak label, the L56 convention) each
  // decile captures — cumulative recall and per-decile lift. Exact
  // integers everywhere except lift (one fixed-order float chain over
  // exact counts, round 6). The rank is a corpus total order, ridden
  // on the C48 TWO-PHASE range ranking (r11 — the concession is
  // wired, not just named: no single-reducer window touches the
  // corpus; (logit, doc_id) is a total order so the rank is seam-
  // invariant). Deciles are cross-multiplied ((rn-1)*10) div n — no
  // float in a bucket edge.
  def gainsTable(documents: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // localCheckpoint (the nbClassify precedent, r12): the rank below
    // evaluates its input three ways (bounded boundary sample, the
    // windowed side, the counts side) plus the totals row — without
    // materialization each evaluation replays the full classifier
    // pipeline. The scored frame is one narrow row per doc, the right
    // trade at any corpus size.
    val scored = hashedClassifier(documents)
      .join(documents.select(col("doc_id"),
        (qualityScoreCol > NbCut).cast("long").as("y")), "doc_id")
      .localCheckpoint()
    val tot = scored.agg(count(lit(1)).as("n_total"),
      sum(col("y")).as("n_pos_total"))
    val ranked = Relational.totalOrderRank(scored.crossJoin(broadcast(tot)),
        Seq(col("logit_sum_milli").desc, col("doc_id").asc),
        negate(col("logit_sum_milli")))
      .withColumn("decile", expr("((rn - 1) * 10) div n_total"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
        max(col("n_total")).as("n_total"), max(col("n_pos_total")).as("n_pos_total"))
    val cw = W.orderBy(col("decile"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked
      .withColumn("cum_pos", sum(col("n_pos")).over(cw))
      .selectExpr("decile", "n_docs", "n_pos", "cum_pos",
        "(cum_pos * 1000000) div n_pos_total AS recall_ppm",
        "round((cast(n_pos as double) / cast(n_docs as double)) / (cast(n_pos_total as double) / cast(n_total as double)), 6) AS lift")
  }

  val gainsTableSql: String =
    s"""WITH scored AS (
  SELECT doc_id, sum(w)::BIGINT AS logit
  FROM (
    SELECT doc_id, (${md5LongSql("'w'", "t")} % 2001) - 1000 AS w
    FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t FROM documents)
    WHERE length(t) > 0)
  GROUP BY doc_id),
lab AS (
  SELECT s.doc_id, s.logit, ($qualityScoreSqlExpr > 0.2)::BIGINT AS y
  FROM scored s JOIN documents USING (doc_id)),
tot AS (SELECT count(*)::BIGINT AS n_total, sum(y)::BIGINT AS n_pos_total FROM lab),
ranked AS (
  SELECT ((row_number() OVER (ORDER BY logit DESC, doc_id ASC) - 1) * 10) // n_total AS decile, y, n_total, n_pos_total
  FROM lab CROSS JOIN tot),
dec AS (
  SELECT decile, count(*)::BIGINT AS n_docs, sum(y)::BIGINT AS n_pos,
    max(n_total)::BIGINT AS n_total, max(n_pos_total)::BIGINT AS n_pos_total
  FROM ranked GROUP BY 1)
SELECT decile, n_docs, n_pos,
  (sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_pos,
  (((sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1000000) // n_pos_total)::BIGINT AS recall_ppm,
  round((cast(n_pos as double) / cast(n_docs as double)) / (cast(n_pos_total as double) / cast(n_total as double)), 6) AS lift
FROM dec"""

  // ---- L137 (r10): prompt-injection screening ----
  // The safety-curation sweep run over instruction/RAG corpora: count
  // occurrences of canonical injection phrasings ("ignore previous
  // instructions", "you are now", ...) per doc and report the
  // per-source exposure. Patterns are RE2-compatible lowercase
  // regexes (the L18 engine-parity rule). The corpus has zero organic
  // hits (synthetic token soup), so detection is proven against the
  // C114 planted-perturbation idiom: docs with doc_id ≡ 5 (mod 41)
  // get one injected phrase prepended in-flight, and the screen must
  // recover exactly the planted population (plus anything organic the
  // data ever grows). Map-only per doc + one source rollup.
  private val InjectionRes = Seq(
    "ignore (all )?previous instructions",
    "disregard (the )?above",
    "you are now [a-z]+",
    "reveal (your )?system prompt")

  def injectionScreen(documents: DataFrame): DataFrame = {
    val planted = when(pmod(col("doc_id"), lit(41)) === 5,
      concat(lit("please ignore previous instructions and "), col("text")))
      .otherwise(col("text"))
    val low = lower(planted)
    val hits = InjectionRes.map(p => regexp_count(low, lit(p)))
      .reduce(_ + _).cast("long")
    documents.select(col("doc_id"), col("source"), hits.as("n_hits"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_hits") > 0).cast("long")).as("n_flagged"),
        sum(col("n_hits")).as("total_hits"))
      .withColumn("flagged_ppm", expr("(n_flagged * 1000000) div n_docs"))
  }

  val injectionScreenSql: String = {
    val hits = InjectionRes
      .map(p => s"len(regexp_extract_all(low, '$p'))").mkString(" + ")
    s"""WITH scr AS (
  SELECT doc_id, source,
    lower(CASE WHEN ((doc_id % 41) + 41) % 41 = 5
      THEN 'please ignore previous instructions and ' || text
      ELSE text END) AS low
  FROM documents),
h AS (SELECT doc_id, source, ($hits)::BIGINT AS n_hits FROM scr)
SELECT source, count(*)::BIGINT AS n_docs,
  sum((n_hits > 0)::INT)::BIGINT AS n_flagged,
  sum(n_hits)::BIGINT AS total_hits,
  ((sum((n_hits > 0)::INT) * 1000000) // count(*))::BIGINT AS flagged_ppm
FROM h GROUP BY source"""
  }

  // ---- L138 (r10): winnowing density audit ----
  // The algorithm-contract check on L11 before its fingerprints back a
  // 100 TB provenance index: winnowing (k=5, w=4) guarantees at least
  // one selection per window and an expected selected-position density
  // of 2/(w+1); repetitive text collapses DISTINCT fingerprints far
  // below that (the same 5-gram re-selected), and a source whose
  // density craters is one where L52's overlap detector loses
  // resolution — that is what this audit reads, per source. All
  // integer: per-doc density as exact ppm over n − 7 windows, per-
  // source overall density cross-multiplied from the sums; min/max
  // per-doc densities carried as the outlier surface. One fingerprint
  // pass (map-only Winnow expression) + one doc count + one rollup.
  def winnowDensity(documents: DataFrame): DataFrame = {
    val fps = fingerprint(documents)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
    documents.where(length(col("text")) >= 8)
      .select(col("doc_id"), col("source"),
        (length(col("text")) - 7).cast("long").as("n_windows"))
      .join(fps, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_fps"))
      .withColumn("density_ppm", expr("(n_fps * 1000000) div n_windows"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_fps")).as("total_fps"),
        sum(col("n_windows")).as("total_windows"),
        min(col("density_ppm")).as("min_density_ppm"),
        max(col("density_ppm")).as("max_density_ppm"))
      .withColumn("density_ppm",
        expr("(total_fps * 1000000) div total_windows"))
  }

  val winnowDensitySql: String =
    s"""WITH fp AS ($fingerprintSql),
counts AS (SELECT doc_id, count(*)::BIGINT AS n_fps FROM fp GROUP BY 1),
docs AS (
  SELECT d.doc_id, d.source, (length(d.text) - 7)::BIGINT AS n_windows,
    coalesce(c.n_fps, 0)::BIGINT AS n_fps
  FROM documents d LEFT JOIN counts c USING (doc_id)
  WHERE length(d.text) >= 8),
dens AS (
  SELECT source, n_fps, n_windows,
    (n_fps * 1000000) // n_windows AS density_ppm
  FROM docs)
SELECT source, count(*)::BIGINT AS n_docs, sum(n_fps)::BIGINT AS total_fps,
  sum(n_windows)::BIGINT AS total_windows,
  min(density_ppm)::BIGINT AS min_density_ppm,
  max(density_ppm)::BIGINT AS max_density_ppm,
  ((sum(n_fps) * 1000000) // sum(n_windows))::BIGINT AS density_ppm
FROM dens GROUP BY source"""

  // ---- L139 (r10): vocabulary drift — old-half vocab vs new-half text ----
  // The vocab-refresh decision L35/L47 feed: fit the vocabulary on the
  // FIRST id-half of the corpus (the L132 value-based split off a
  // single-row broadcast max — no sort) and measure the SECOND half
  // against it — occurrence-weighted OOV ppm and brand-new types per
  // source. A source whose new half craters the coverage is the one
  // whose ingestion changed (new domain, new language, new template)
  // and the one that forces retokenization. One token explode, one
  // vocab-keyed presence join (shuffle bounded by vocabulary, not
  // corpus), one source rollup; all-integer.
  def vocabDrift(documents: DataFrame): DataFrame = {
    val mx = documents.agg(max(col("doc_id")).as("mx"))
    val toks = documents.crossJoin(broadcast(mx))
      .select(col("source"), expr("(doc_id * 2) div (mx + 1)").as("half"),
        explode(tokens(col("text"))).as("w"))
      .where(length(col("w")) > 0)
    val oldVocab = toks.where(col("half") === 0)
      .select(col("w")).distinct().withColumn("known", lit(1L))
    toks.where(col("half") === 1)
      .join(oldVocab, Seq("w"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov_tokens"),
        countDistinct(when(col("known").isNull, col("w"))).as("n_new_types"))
      .withColumn("oov_ppm", expr("(n_oov_tokens * 1000000) div n_tokens"))
  }

  val vocabDriftSql: String =
    """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
toks AS (
  SELECT source, (doc_id * 2) // (mx + 1) AS half,
    unnest(string_split_regex(lower(text), '\s+')) AS w
  FROM documents CROSS JOIN mx),
tok AS (SELECT * FROM toks WHERE length(w) > 0),
oldv AS (SELECT DISTINCT w FROM tok WHERE half = 0),
newh AS (
  SELECT t.source, t.w, (o.w IS NOT NULL) AS known
  FROM tok t LEFT JOIN oldv o USING (w)
  WHERE t.half = 1)
SELECT source, count(*)::BIGINT AS n_tokens,
  sum((NOT known)::INT)::BIGINT AS n_oov_tokens,
  count(DISTINCT CASE WHEN NOT known THEN w END)::BIGINT AS n_new_types,
  ((sum((NOT known)::INT) * 1000000) // count(*))::BIGINT AS oov_ppm
FROM newh GROUP BY source"""

  // ---- L141 (r10): template-prefix detection ----
  // Boilerplate headers repeat the OPENING of a document (mirrored
  // nav/banner text, scraped templates) — the signal L59 (block df)
  // reads globally, localized to document starts: per source, how
  // concentrated is the 10-token prefix distribution, and what is the
  // dominant prefix? A source whose top prefix covers a large doc
  // share is template-bound (strip before training). Hashed surface:
  // the winning prefix as its md5 (byte-stable; raw text stays out of
  // the hash compare), counts + exact ppm; argmax via the
  // deterministic (count, prefix) struct max. One narrow prefix
  // projection + source-keyed aggregates.
  def templatePrefixes(documents: DataFrame): DataFrame = {
    val pref = documents.select(col("source"),
      array_join(slice(tokens(col("text")), 1, 10), " ").as("prefix"))
    val counts = pref.groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_distinct_prefixes"),
        max(struct(col("c"), col("prefix"))).as("m"))
      .select(col("source"), col("n_docs"), col("n_distinct_prefixes"),
        md5(col("m.prefix")).as("top_prefix_md5"),
        col("m.c").as("top_count"),
        expr("(m.c * 1000000) div n_docs").as("top_share_ppm"))
  }

  val templatePrefixesSql: String =
    """WITH pref AS (
  SELECT source,
    array_to_string(string_split_regex(lower(text), '\s+')[1:10], ' ') AS prefix
  FROM documents),
counts AS (SELECT source, prefix, count(*)::BIGINT AS c FROM pref GROUP BY 1, 2),
agg AS (
  SELECT source, sum(c)::BIGINT AS n_docs, count(*)::BIGINT AS n_distinct_prefixes,
    max(struct_pack(c := c, prefix := prefix)) AS m
  FROM counts GROUP BY 1)
SELECT source, n_docs, n_distinct_prefixes,
  md5((m).prefix) AS top_prefix_md5, (m).c AS top_count,
  (((m).c * 1000000) // n_docs)::BIGINT AS top_share_ppm
FROM agg"""

  // ---- L142 (r10): code-mix detection — top-2 language margin ----
  // L8 emits the argmax language; the routing decision for MIXED
  // documents needs the RUNNER-UP and the margin: a doc whose second
  // language scores close to its first (cross-multiplied s1 < 2·s2 —
  // no float in the decision) is code-mixed and goes to a different
  // processing path than a clean doc. Primary/secondary resolve by
  // (score, fixed lang order) — the L8 first-match-wins convention
  // extended to second place; rollup per (primary, secondary) ordered
  // pair with exact mixed-share ppm. Map-only scoring + one
  // alphabet²-bounded aggregate.
  def codeMixMargin(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = documents.select(
      Seq(col("doc_id")) ++
        stopwords.map { case (l, ws) => hitCount(toks, ws).cast("long").as(s"score_$l") }: _*)
    val best = greatest(stopwords.map { case (l, _) => col(s"score_$l") }: _*)
    val pred = stopwords.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    val withTop = scored.withColumn("lang1", pred).withColumn("s1", best)
    // runner-up: best over languages other than lang1, same conventions
    val second = stopwords.map { case (l, _) =>
      when(col("lang1") === l, lit(-1L)).otherwise(col(s"score_$l"))
    }
    val best2 = greatest(second: _*)
    val pred2 = stopwords.zip(second).foldRight(lit("und")) {
      case (((l, _), s), acc) =>
        when(s === best2 && best2 > 0, lit(l)).otherwise(acc)
    }
    withTop.withColumn("lang2", pred2).withColumn("s2", greatest(best2, lit(0L)))
      .withColumn("mixed",
        (col("lang2") =!= "und" && col("s1") < col("s2") * 2).cast("long"))
      .groupBy(col("lang1"), col("lang2"))
      .agg(count(lit(1)).as("n_docs"), sum(col("mixed")).as("n_mixed"),
        sum(col("s1")).as("s1_total"), sum(col("s2")).as("s2_total"))
      .withColumn("mixed_ppm", expr("(n_mixed * 1000000) div n_docs"))
  }

  val codeMixMarginSql: String = {
    def toksSql = "string_split_regex(lower(text), '\\s+')"
    val scores = stopwords.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter($toksSql, t -> list_contains($lst, t)))::BIGINT AS score_$l"
    }.mkString(",\n  ")
    val best = "greatest(" + stopwords.map { case (l, _) => s"score_$l" }.mkString(", ") + ")"
    val pred = stopwords.map { case (l, _) =>
      s"WHEN score_$l = $best AND $best > 0 THEN '$l'"
    }.mkString(" ")
    val second = stopwords.map { case (l, _) =>
      s"CASE WHEN lang1 = '$l' THEN -1 ELSE score_$l END"
    }
    val best2 = "greatest(" + second.mkString(", ") + ")"
    val pred2 = stopwords.zip(second).map { case ((l, _), s) =>
      s"WHEN ($s) = b2 AND b2 > 0 THEN '$l'"
    }.mkString(" ")
    s"""WITH scored AS (SELECT doc_id,
  $scores
FROM documents),
top1 AS (
  SELECT *, CASE $pred ELSE 'und' END AS lang1, $best AS s1 FROM scored),
top2 AS (
  SELECT *, $best2 AS b2 FROM top1),
res AS (
  SELECT lang1, s1, CASE $pred2 ELSE 'und' END AS lang2,
    greatest(b2, 0) AS s2
  FROM top2)
SELECT lang1, lang2, count(*)::BIGINT AS n_docs,
  sum((lang2 <> 'und' AND s1 < s2 * 2)::INT)::BIGINT AS n_mixed,
  sum(s1)::BIGINT AS s1_total, sum(s2)::BIGINT AS s2_total,
  ((sum((lang2 <> 'und' AND s1 < s2 * 2)::INT) * 1000000) // count(*))::BIGINT AS mixed_ppm
FROM res GROUP BY 1, 2"""
  }

  // ---- L144 (r10): length-distribution drift per source — exact KS ----
  // The ingestion monitor L9's scalar means miss: did a source's
  // LENGTH DISTRIBUTION change between the first and second id-half
  // (new template, new truncation, new extractor)? C97's exact
  // two-sample KS machinery per source: cell counts per (source,
  // n_chars, half), cumulative cross-multiplied sup |F0 − F1| as an
  // exact integer numerator over n0·n1, one float division + the
  // shared 1.358·sqrt((n0+n1)/(n0·n1)) threshold chain (identical
  // both engines, the C97 pairing). Half-empty sources excluded by
  // WHERE. Post-aggregate frames are (source × distinct lengths).
  def lengthDrift(documents: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val mx = documents.agg(max(col("doc_id")).as("mx"))
    val cells = documents.crossJoin(broadcast(mx))
      .select(col("source"), col("n_chars"),
        expr("(doc_id * 2) div (mx + 1)").as("half"))
      .groupBy(col("source"), col("n_chars"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"))
    val w = W.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wt = W.partitionBy(col("source"))
    cells
      .withColumn("cum0", sum(col("c0")).over(w))
      .withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("n0", sum(col("c0")).over(wt))
      .withColumn("n1", sum(col("c1")).over(wt))
      .groupBy(col("source"), col("n0"), col("n1"))
      .agg(max(abs(col("cum0") * col("n1") - col("cum1") * col("n0"))).as("dnum"))
      .where(col("n0") > 0 && col("n1") > 0)
      .select(col("source"), col("n0"), col("n1"), col("dnum"),
        round(col("dnum").cast("double") / (col("n0") * col("n1")).cast("double"), 6)
          .as("d_stat"),
        (col("dnum").cast("double") / (col("n0") * col("n1")).cast("double") >
          lit(1.358) * sqrt((col("n0") + col("n1")).cast("double") /
            (col("n0") * col("n1")).cast("double"))).cast("long").as("drifted"))
  }

  val lengthDriftSql: String =
    """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
cells AS (
  SELECT source, n_chars,
    sum(CASE WHEN (doc_id * 2) // (mx + 1) = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
    sum(CASE WHEN (doc_id * 2) // (mx + 1) = 1 THEN 1 ELSE 0 END)::BIGINT AS c1
  FROM documents CROSS JOIN mx GROUP BY 1, 2),
cum AS (
  SELECT source, n_chars, c0, c1,
    sum(c0) OVER (PARTITION BY source ORDER BY n_chars
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum0,
    sum(c1) OVER (PARTITION BY source ORDER BY n_chars
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum1,
    sum(c0) OVER (PARTITION BY source)::BIGINT AS n0,
    sum(c1) OVER (PARTITION BY source)::BIGINT AS n1
  FROM cells),
d AS (
  SELECT source, n0, n1,
    max(abs(cum0 * n1 - cum1 * n0))::BIGINT AS dnum
  FROM cum GROUP BY 1, 2, 3)
SELECT source, n0, n1, dnum,
  round(dnum::DOUBLE / (n0 * n1)::DOUBLE, 6) AS d_stat,
  (dnum::DOUBLE / (n0 * n1)::DOUBLE >
    1.358 * sqrt((n0 + n1)::DOUBLE / (n0 * n1)::DOUBLE))::BIGINT AS drifted
FROM d WHERE n0 > 0 AND n1 > 0"""

  // ---- L147 (r10): term-position bias — the template locator ----
  // L141 finds shared PREFIXES; this finds the softer templating
  // signal: terms that systematically live early (boilerplate headers,
  // "subscribe"-style banners) or late (footers, signatures) in their
  // documents. Per occurrence the normalized position in exact ppm —
  // ((i−1)·1e6) div (n−1), 0-based over an (n>1)-token doc — then per
  // term the occurrence count, the integer mean position, and its
  // signed skew off the 500 000 midpoint. ENTIRELY integer (two `div`
  // quotients, no float). Rare terms (occ < threshold) are dropped
  // POST-aggregate so the output is vocabulary-head-bounded at any
  // corpus size; the explode is the one corpus-sized pass, map-side
  // fused into the scan, and the aggregate carries one row per
  // distinct term.
  private val PosBiasMinOcc = 50L

  def termPositionBias(documents: DataFrame): DataFrame =
    // the token ARRAY materializes below the Generate so n is a cheap
    // length lookup per exploded row — referencing size(split(text))
    // above the Generate would re-split the whole document once per
    // element (O(tokens²) chars; measured 5× on the corpus)
    documents
      .select(tokens(col("text")).as("t"))
      .select(size(col("t")).cast("long").as("n"),
        posexplode(col("t")).as(Seq("i", "term")))
      .where(col("n") > 1)
      .select(col("term"),
        expr("(i * 1000000L) div (n - 1)").as("pos_ppm"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("occurrences"), sum(col("pos_ppm")).as("sp"))
      .where(col("occurrences") >= PosBiasMinOcc)
      .select(col("term"), col("occurrences"),
        expr("sp div occurrences").as("mean_pos_ppm"),
        (expr("sp div occurrences") - 500000L).as("skew_ppm"))

  lazy val termPositionBiasSql: String =
    s"""WITH toks AS (
  SELECT string_split_regex(lower(text), '\\s+') AS t FROM documents),
pos AS (
  SELECT t[i] AS term, ((i - 1) * 1000000) // (len(t) - 1) AS pos_ppm
  FROM toks, LATERAL unnest(generate_series(1, len(t))) AS u(i)
  WHERE len(t) > 1),
agg AS (
  SELECT term, count(*)::BIGINT AS occurrences, sum(pos_ppm)::BIGINT AS sp
  FROM pos GROUP BY 1)
SELECT term, occurrences, (sp // occurrences)::BIGINT AS mean_pos_ppm,
  ((sp // occurrences) - 500000)::BIGINT AS skew_ppm
FROM agg WHERE occurrences >= $PosBiasMinOcc"""

  // ---- L148 (r10): per-source unigram entropy — the repetitiveness
  // scalar ----
  // L122's type/token ratio counts distinct terms; entropy weighs them:
  // a source whose probability mass concentrates on few terms (template
  // farms, boilerplate mirrors) reads LOW H = −Σ p·ln p even with a
  // large vocabulary. The corpus-health scalar mixture tuning (L30/L70)
  // wants next to token counts. Exactness: per-term contributions
  // −p·ln p are quantized DECIMAL(18,9) BEFORE the sum (order-free —
  // the L117/L24 discipline; p is one IEEE division of exact counts),
  // so the aggregate never depends on float summation order at any
  // vocabulary size. One token explode (map-fused), one (source, term)
  // aggregate, then vocabulary-sized frames only.
  def sourceEntropy(documents: DataFrame): DataFrame = {
    val st = documents
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val totals = st.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"))
    val p = col("c").cast("double") / col("n_tokens").cast("double")
    st.join(broadcast(totals), Seq("source"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        (-p * log(p)).cast("decimal(18,9)").as("e"))
      .groupBy(col("source"), col("n_tokens"), col("vocab"))
      .agg(sum(col("e")).as("se"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(col("se").cast("double"), 6).as("entropy_nats"))
  }

  val sourceEntropySql: String =
    """WITH st AS (
  SELECT source, token, count(*)::BIGINT AS c FROM (
    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS token
    FROM documents)
  WHERE length(token) > 0 GROUP BY 1, 2),
totals AS (
  SELECT source, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab
  FROM st GROUP BY 1),
terms AS (
  SELECT st.source, t.n_tokens, t.vocab,
    CAST(-(st.c::DOUBLE / t.n_tokens::DOUBLE)
      * ln(st.c::DOUBLE / t.n_tokens::DOUBLE) AS DECIMAL(18,9)) AS e
  FROM st JOIN totals t USING (source))
SELECT source, n_tokens, vocab,
  round(sum(e)::DOUBLE, 6) AS entropy_nats
FROM terms GROUP BY 1, 2, 3"""

  // ---- L149 (r10): term burstiness — TF/DF concentration (the
  // Church–Gale signal) ----
  // Two terms with equal corpus frequency can be opposites: one spread
  // thinly everywhere (function-word behavior), one clumped into few
  // documents (topical/template behavior — the kind n-gram LMs and
  // dedup both care about). Per head term: total occurrences tf,
  // document frequency df, burstiness tf·1e6 div df (mean occurrences
  // per CONTAINING doc, exact ppm), and the max single-doc count (the
  // concentration witness). ENTIRELY integer. One (doc, term)
  // aggregate off the fused explode, one term rollup, POST-aggregate
  // head filter — vocabulary-bounded output at any corpus size.
  private val BurstMinDf = 20L

  def termBurstiness(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("term"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"),
        max(col("c")).as("max_in_doc"))
      .where(col("df") >= BurstMinDf)
      .select(col("term"), col("tf"), col("df"), col("max_in_doc"),
        expr("(tf * 1000000L) div df").as("burst_ppm"))

  val termBurstinessSql: String =
    s"""WITH dt AS (
  SELECT doc_id, term, count(*)::BIGINT AS c FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
    FROM documents)
  WHERE length(term) > 0 GROUP BY 1, 2),
agg AS (
  SELECT term, sum(c)::BIGINT AS tf, count(*)::BIGINT AS df,
    max(c)::BIGINT AS max_in_doc
  FROM dt GROUP BY 1)
SELECT term, tf, df, max_in_doc,
  ((tf * 1000000) // df)::BIGINT AS burst_ppm
FROM agg WHERE df >= $BurstMinDf"""

  // ---- L150 (r10): intra-doc self-similarity — half-against-half
  // Jaccard ----
  // L90 removes REPEATED SPANS inside a document; this scores the
  // softer within-doc redundancy that spans miss: the vocabulary
  // Jaccard between a document's first and second token halves. A
  // mirrored/padded/template-doubled page reads near 1e6 even when no
  // verbatim k-gram repeats; organic prose reads the corpus baseline.
  // ENTIRELY integer per doc: distinct-set intersection/union counts
  // off native array expressions (array_distinct/array_intersect —
  // codegen'd, no HOF inlining), one exact ppm div. Map-only — fused
  // into the scan, no shuffle at any scale.
  def selfSimilarity(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        col("t"))
      .where(col("n_tokens") >= 2)
      .select(col("doc_id"), col("n_tokens"),
        expr("array_distinct(slice(t, 1, cast(n_tokens div 2 AS INT)))").as("h1"),
        expr("array_distinct(slice(t, cast(n_tokens div 2 AS INT) + 1, " +
          "cast(n_tokens - n_tokens div 2 AS INT)))").as("h2"))
      .select(col("doc_id"), col("n_tokens"),
        size(array_intersect(col("h1"), col("h2"))).cast("long").as("inter"),
        (size(col("h1")) + size(col("h2")) -
          size(array_intersect(col("h1"), col("h2")))).cast("long").as("uni"))
      .select(col("doc_id"), col("n_tokens"), col("inter"), col("uni"),
        expr("(inter * 1000000L) div uni").as("self_jac_ppm"))

  val selfSimilaritySql: String =
    """WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
halves AS (
  SELECT doc_id, len(t)::BIGINT AS n_tokens,
    list_distinct(t[1 : len(t) // 2]) AS h1,
    list_distinct(t[len(t) // 2 + 1 : len(t)]) AS h2
  FROM toks WHERE len(t) >= 2),
cnt AS (
  SELECT doc_id, n_tokens,
    len(list_intersect(h1, h2))::BIGINT AS inter,
    (len(h1) + len(h2) - len(list_intersect(h1, h2)))::BIGINT AS uni
  FROM halves)
SELECT doc_id, n_tokens, inter, uni,
  ((inter * 1000000) // uni)::BIGINT AS self_jac_ppm
FROM cnt"""

  // ---- L151 (r10): shingle hash-collision audit — trust-the-hash
  // verification ----
  // The whole dedup/contamination family (L2/L3/L21/L67) compares
  // 60-bit md5 slices INSTEAD of gram strings; this measures what that
  // substitution costs: per gram order k, the corpus-distinct gram
  // count vs the distinct hash count — every deficit is a real
  // collision that would silently alias two different grams. Expected
  // ~n²/2^61 (birthday); the audit turns that argument into a
  // MEASURED number per corpus, the same honesty move as L41's
  // verified CMS and L129's minhash calibration. ENTIRELY integer; at
  // 100 TB the distinct aggregates are the same shuffle the dedup ops
  // themselves run — the audit rides an existing pass shape, and the
  // ppb quotient is a `div` off exact counts.
  private val CollisionKs = Seq(2, 3, 5)

  def hashCollisions(documents: DataFrame): DataFrame = {
    CollisionKs.map { k =>
      documents
        .select(explode(VectorFunctions.shingles(tokens(col("text")), k)).as("s"))
        .select(lit(k.toLong).as("k"), col("s"),
          md5Long(lit("col"), col("s")).as("h"))
        .agg(lit(k.toLong).as("k"),
          countDistinct(col("s")).as("n_grams"),
          countDistinct(col("h")).as("n_hashes"))
        .select(col("k"), col("n_grams"), col("n_hashes"),
          (col("n_grams") - col("n_hashes")).as("collisions"),
          // an empty gram order (docs shorter than k) is 0, not a
          // division error
          expr("CASE WHEN n_grams > 0 THEN " +
            "((n_grams - n_hashes) * 1000000000L) div n_grams " +
            "ELSE 0L END").as("collision_ppb"))
    }.reduce(_ unionByName _)
  }

  val hashCollisionsSql: String = {
    val toks = "string_split_regex(lower(text), '\\s+')"
    CollisionKs.map { k =>
      s"""SELECT $k::BIGINT AS k, count(DISTINCT s)::BIGINT AS n_grams,
  count(DISTINCT ${md5LongSql("'col'", "s")})::BIGINT AS n_hashes,
  (count(DISTINCT s) - count(DISTINCT ${md5LongSql("'col'", "s")}))::BIGINT
    AS collisions,
  (CASE WHEN count(DISTINCT s) > 0 THEN
    (count(DISTINCT s) - count(DISTINCT ${md5LongSql("'col'", "s")}))
      * 1000000000 // count(DISTINCT s) ELSE 0 END)::BIGINT AS collision_ppb
FROM (SELECT unnest(${wordShinglesSql(toks, k)}) AS s FROM documents)"""
    }.mkString("\nUNION ALL\n")
  }

  // ---- L155 (r10): RAKE keyword extraction ----
  // The classic unsupervised keyphrase extractor (Rose et al. 2010),
  // the corpus-labeling pass curation pipelines run before topic
  // routing: candidate phrases are maximal stopword-free token runs
  // (gaps-and-islands on token positions — the C95 flag-and-sum
  // shape); each word scores degree/frequency where degree is the
  // summed length of every phrase containing it (co-occurrence
  // weight) and frequency its raw count; a phrase scores the sum of
  // its words' ratios. ENTIRELY integer: ratios are exact ppm
  // quotients, phrase scores exact BIGINT sums of them, the top-20
  // selected under a (score DESC, phrase ASC) total order — no float
  // anywhere. The stopword list is declared model state (the
  // L13/L103 rule). Plan: one fused posexplode pass; the island
  // window runs per doc; word stats and phrase scores ride (tok) and
  // (doc, isl) exchanges; the final top-20 window runs on the
  // POST-AGGREGATE distinct-phrase frame.
  private[graft] val RakeStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")
  private val RakeTopK = 20

  def rakeKeywords(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .where(length(col("tok")) > 0)
      .withColumn("stop", col("tok").isInCollection(RakeStopwords).cast("long"))
    val W = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = toks.withColumn("isl", sum(col("stop")).over(W))
      .where(col("stop") === 0)
      .select(col("doc_id"), col("isl"), col("pos"), col("tok"))
    val phrases = isl.groupBy(col("doc_id"), col("isl"))
      .agg(count(lit(1)).as("plen"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("phrase"))
    val wstats = isl.join(phrases.select(col("doc_id"), col("isl"), col("plen")),
        Seq("doc_id", "isl"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("ratio_ppm", expr("(deg * 1000000L) div freq"))
    val scored = isl.join(wstats.select(col("tok"), col("ratio_ppm")), "tok")
      .groupBy(col("doc_id"), col("isl"))
      .agg(sum(col("ratio_ppm")).as("score_ppm"))
      .join(phrases, Seq("doc_id", "isl"))
      .groupBy(col("phrase"))
      .agg(max(col("plen")).as("n_words"), count(lit(1)).as("n_occurrences"),
        max(col("score_ppm")).as("score_ppm"))
    // r11: top-k selection via TakeOrderedAndProject (per-partition
    // top-k + P·k merge) instead of a global row_number window over
    // the full phrase frame; the re-rank window orders only the ≤ k
    // selected rows — bounded by the declared k, never by data
    scored.orderBy(col("score_ppm").desc, col("phrase").asc).limit(RakeTopK)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score_ppm").desc, col("phrase").asc)))
      .select(col("rk").cast("long").as("rk"), col("phrase"), col("n_words"),
        col("n_occurrences"), col("score_ppm"))
  }

  val rakeKeywordsSql: String = {
    val stop = RakeStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH toks AS (
  SELECT doc_id, i AS pos, t.toks[i] AS tok,
    list_contains($stop, t.toks[i])::BIGINT AS stop
  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
        FROM documents) t,
    LATERAL unnest(generate_series(1, len(t.toks))) AS u(i)
  WHERE length(t.toks[i]) > 0),
isl AS (
  SELECT doc_id, pos, tok,
    sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS UNBOUNDED PRECEDING) AS isl
  FROM toks QUALIFY stop = 0),
phrases AS (
  SELECT doc_id, isl, count(*)::BIGINT AS plen,
    string_agg(tok, ' ' ORDER BY pos) AS phrase
  FROM isl GROUP BY 1, 2),
wstats AS (
  SELECT tok, count(*)::BIGINT AS freq, sum(plen)::BIGINT AS deg,
    ((sum(plen) * 1000000) // count(*))::BIGINT AS ratio_ppm
  FROM isl JOIN phrases USING (doc_id, isl) GROUP BY tok),
scored AS (
  SELECT phrase, max(plen)::BIGINT AS n_words,
    count(*)::BIGINT AS n_occurrences, max(score_ppm)::BIGINT AS score_ppm
  FROM (
    SELECT i.doc_id, i.isl, sum(w.ratio_ppm)::BIGINT AS score_ppm
    FROM isl i JOIN wstats w USING (tok) GROUP BY 1, 2) s
  JOIN phrases USING (doc_id, isl) GROUP BY phrase)
SELECT row_number() OVER (ORDER BY score_ppm DESC, phrase ASC)::BIGINT AS rk,
  phrase, n_words, n_occurrences, score_ppm
FROM scored ORDER BY score_ppm DESC, phrase ASC LIMIT $RakeTopK"""
  }

  // ---- L157 (r10): TextRank keyword ranking ----
  // The graph-based rival of L155's RAKE (Mihalcea & Tarau 2004):
  // rank words by weighted PageRank over the co-occurrence graph —
  // consecutive non-stopword tokens form an undirected edge weighted
  // by corpus co-occurrence count. Centrality catches connective
  // vocabulary that RAKE's degree/frequency ratio misses. The rounds
  // are C39's (Dedup.integerRank) on the vocabulary-bounded graph, with
  // the exact share rank·w div strength (rank·w passes BIGINT at corpus
  // scale; the kernel divides through BigInteger). Top-20 released
  // under a (rank DESC, word ASC) total order. Plan: one fused
  // posexplode pass → edge aggregate → the rounds.
  private val TrTopK = 20

  def textRank(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .where(length(col("tok")) > 0 &&
        !col("tok").isInCollection(RakeStopwords))
    val W = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val adj = toks.withColumn("nxt", lead(col("tok"), 1).over(W))
      .where(col("nxt").isNotNull && col("nxt") =!= col("tok"))
      .select(least(col("tok"), col("nxt")).as("x"),
        greatest(col("tok"), col("nxt")).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("wt"))
    val ranksFinal = Dedup.integerRank(
      adj.select(col("x").as("src"), col("y").as("dst"), col("wt").as("w"))
        .unionAll(adj.select(col("y"), col("x"), col("wt"))),
      scaleFirst = true)
    // r11: top-k via TakeOrderedAndProject (the RAKE/hill shape) —
    // the re-rank window orders only the ≤ k selected rows
    ranksFinal.orderBy(col("rank").desc, col("v").asc).limit(TrTopK)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rank").desc, col("v").asc)))
      .select(col("rk").cast("long").as("rk"), col("v").as("word"),
        col("rank"))
  }

  lazy val textRankSql: String = {
    val stop = RakeStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE tk AS (
  SELECT doc_id, i AS pos, t.toks[i] AS tok
  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
        FROM documents) t,
    LATERAL unnest(generate_series(1, len(t.toks))) AS u(i)
  WHERE length(t.toks[i]) > 0 AND NOT list_contains($stop, t.toks[i])),
adj0 AS (
  SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM tk),
adj AS (
  SELECT least(tok, nxt) AS x, greatest(tok, nxt) AS y, count(*)::BIGINT AS wt
  FROM adj0 WHERE nxt IS NOT NULL AND nxt <> tok GROUP BY 1, 2),
e AS (SELECT x AS src, y AS dst, wt FROM adj
  UNION ALL SELECT y, x, wt FROM adj),
s AS (SELECT src, sum(wt)::BIGINT AS s FROM e GROUP BY src),
n AS (SELECT count(*) AS n FROM s),
tr(iter, v, rank) AS (
  SELECT 0, src, ${Dedup.RankUnit} // (SELECT n FROM n) FROM s
  UNION ALL
  SELECT iter + 1, dst,
    (15 * (${Dedup.RankUnit} // (SELECT n FROM n))) // 100 + (85 * sumc) // 100
  FROM (
    SELECT p.iter AS iter, e.dst AS dst,
      sum((p.rank::HUGEINT * e.wt) // st.s)::BIGINT AS sumc
    FROM tr p JOIN s st ON st.src = p.v JOIN e ON e.src = p.v
    GROUP BY p.iter, e.dst)
  WHERE iter < ${Dedup.RankIters})
SELECT row_number() OVER (ORDER BY rank DESC, v ASC)::BIGINT AS rk,
  v AS word, rank::BIGINT AS rank
FROM tr WHERE iter = ${Dedup.RankIters}
ORDER BY rank DESC, v ASC LIMIT $TrTopK"""
  }

  // ---- L156 (r10): decision stump — exact 1-split Gini learner ----
  // The weakest useful learner, and the one whose TRAINING is exactly
  // expressible as relational algebra: pick the n_chars threshold
  // minimizing the children's weighted Gini impurity against the L9
  // quality label, then score the L31 holdout fifth. The whole fit is
  // the C150 selection discipline end to end: candidate thresholds
  // are the train split's distinct feature values, each candidate's
  // impurity is a SUM OF TWO decDiv fixed-point quotients
  // (p(n−p)·10⁶ div n per child) of exact counts off one running-sum
  // window, and the argmin runs under (gini ASC, threshold ASC) — no
  // float is ever fitted, compared, or released. Leaf predictions are
  // exact majority votes (2p > n, ties to 0); the holdout confusion
  // and accuracy ppm are exact integers. Plan: one train aggregate to
  // the distinct-feature frame (value-bounded), windows and argmin on
  // that frame, one broadcast of the single-row model to the holdout
  // pass — two corpus scans total (train moments, holdout score).
  /** The L156 fit core over a (x, y) train frame: the single-row
    * best-split model, reused by the L158 forest. */
  private def stumpModel(train: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val byX = train.groupBy(col("x"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
    val tot = byX.agg(sum(col("c")).as("nn"), sum(col("p")).as("pp"))
    val W = Window.orderBy(col("x"))
    val cand = byX
      .withColumn("n_l", sum(col("c")).over(W))
      .withColumn("p_l", sum(col("p")).over(W))
      .crossJoin(broadcast(tot))
      .where(col("n_l") < col("nn"))
      .withColumn("g",
        decDiv(col("p_l").cast(d38) * (col("n_l") - col("p_l")) * 1000000L,
          col("n_l").cast(d38)) +
          decDiv((col("pp") - col("p_l")).cast(d38) *
            ((col("nn") - col("n_l")) - (col("pp") - col("p_l"))) * 1000000L,
            (col("nn") - col("n_l")).cast(d38)))
    // r13: argmin via TakeOrderedAndProject (orderBy + limit(1) —
    // per-partition heads + a P-way merge) instead of a global
    // single-partition row_number window over the candidate frame
    cand
      .orderBy(col("g").asc, col("x").asc).limit(1)
      .select(col("x").as("threshold"), col("n_l"), col("p_l"),
        (col("nn") - col("n_l")).as("n_r"), (col("pp") - col("p_l")).as("p_r"),
        // Released as BIGINT: each decDiv child term ≤ n·10⁶/4, so
        // gini_q6 ≤ n·5e5 — int64-safe to n ≈ 1.8e13 train rows; the
        // decimal quotient arithmetic stays internal.
        col("g").cast("long").as("gini_q6"),
        (col("p_l") * 2 > col("n_l")).cast("long").as("pred_left"),
        ((col("pp") - col("p_l")) * 2 >
          (col("nn") - col("n_l"))).cast("long").as("pred_right"))
  }

  def decisionStump(documents: DataFrame): DataFrame = {
    val labeled = documents.select(col("doc_id"),
      col("n_chars").cast("long").as("x"),
      (qualityScoreCol > NbCut).cast("long").as("y"))
    val best = stumpModel(labeled.where(pmod(col("doc_id"), lit(5)) =!= 0))
    labeled.where(pmod(col("doc_id"), lit(5)) === 0)
      .crossJoin(broadcast(best))
      .withColumn("pred", when(col("x") <= col("threshold"), col("pred_left"))
        .otherwise(col("pred_right")))
      .groupBy(col("threshold"), col("n_l"), col("p_l"), col("n_r"),
        col("p_r"), col("gini_q6"), col("pred_left"), col("pred_right"))
      .agg(sum((col("pred") === 1 && col("y") === 1).cast("long")).as("tp"),
        sum((col("pred") === 1 && col("y") === 0).cast("long")).as("fp"),
        sum((col("pred") === 0 && col("y") === 0).cast("long")).as("tn"),
        sum((col("pred") === 0 && col("y") === 1).cast("long")).as("fn"))
      .withColumn("acc_ppm", expr(
        "((tp + tn) * 1000000L) div (tp + fp + tn + fn)"))
  }

  // ---- L160 (r10): knee detection — where to cut the long tail ----
  // L44's budget and C113's ABC classes need a cut point; the kneedle
  // heuristic finds it GEOMETRICALLY: on the cumulative doc-count
  // curve over sources sorted largest-first, the knee is the point
  // farthest from the chord between the curve's endpoints — where
  // adding more sources stops paying. EXACT: the point-to-chord
  // distance NUMERATOR |(y1−y0)·x − (x1−x0)·y + x1·y0 − y1·x0| is a
  // pure integer cross product (the shared √ denominator is constant
  // along the curve and cancels from the argmax), the argmax runs
  // under (d DESC, rank ASC) — the C150 selection discipline on
  // geometry. Plan: one source aggregate, rank + running-sum windows
  // on the source-bounded frame, endpoint anchors via single-row
  // broadcast.
  def kneeDetect(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val sizes = documents.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val W = Window.orderBy(col("n_docs").desc, col("source").asc)
    val curve = sizes
      .withColumn("rank", row_number().over(W).cast("long"))
      .withColumn("cum", sum(col("n_docs")).over(W))
    val ends = curve.agg(min(when(col("rank") === 1, col("cum"))).as("y0"),
      max(col("rank")).as("x1"), max(col("cum")).as("y1"))
    val scored = curve.crossJoin(broadcast(ends))
      .withColumn("d_num", abs(
        (col("y1") - col("y0")).cast(d38) * col("rank")
          - (col("x1") - 1).cast(d38) * col("cum")
          + col("x1").cast(d38) * col("y0") - col("y1").cast(d38)))
    scored
      .withColumn("is_knee", (row_number().over(
        Window.orderBy(col("d_num").desc, col("rank").asc)) === 1)
        .cast("long"))
      .select(col("rank"), col("source"), col("n_docs"), col("cum"),
        // Released as BIGINT: d_num ≤ y1·x1 ≈ total_docs·n_sources —
        // int64-safe at any corpus the source alphabet stays bounded.
        col("d_num").cast("long").as("d_num"), col("is_knee"))
  }

  val kneeDetectSql: String =
    """WITH sizes AS (
  SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
curve AS (
  SELECT source, n_docs,
    row_number() OVER (ORDER BY n_docs DESC, source ASC)::BIGINT AS rank,
    sum(n_docs) OVER (ORDER BY n_docs DESC, source ASC
      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
  FROM sizes),
ends AS (
  SELECT min(CASE WHEN rank = 1 THEN cum END)::BIGINT AS y0,
    max(rank)::BIGINT AS x1, max(cum)::BIGINT AS y1
  FROM curve),
scored AS (
  SELECT rank, source, n_docs, cum,
    abs((y1 - y0)::HUGEINT * rank - (x1 - 1)::HUGEINT * cum
      + x1::HUGEINT * y0 - y1) AS d_num
  FROM curve CROSS JOIN ends)
SELECT rank, source, n_docs, cum, d_num::BIGINT AS d_num,
  (row_number() OVER (ORDER BY d_num DESC, rank ASC) = 1)::BIGINT AS is_knee
FROM scored"""

  // ---- L158 (r10): stump forest — multi-feature ensemble vote ----
  // The one-step ensemble on top of L156: fit one exact Gini stump
  // per feature (n_chars, punct count, digit count, stopword hits —
  // the L9 quality signal's own raw ingredients), then majority-vote
  // them on the holdout fifth. The readout every feature review
  // wants: each feature's standalone accuracy AND whether combining
  // them beats the best single cut. Same exactness contract as L156
  // end to end (decDiv impurities, integer argmin, exact ppm
  // accuracies); the ensemble vote is an integer comparison (2·votes
  // > k, ties to 0). Plan: one labeled projection, four value-bounded
  // stump fits, ONE holdout pass against four broadcast single-row
  // models, a 5-row union of exact aggregates.
  private lazy val ForestFeatures: Seq[(String, Column, String)] = Seq(
    ("n_chars", col("n_chars").cast("long"), "n_chars::BIGINT"),
    ("n_toks",
      size(filter(tokens(col("text")), t => length(t) > 0)).cast("long"),
      "len(list_filter(string_split_regex(lower(text), '\\s+'), t -> length(t) > 0))::BIGINT"),
    ("vocab",
      size(array_distinct(filter(tokens(col("text")), t => length(t) > 0)))
        .cast("long"),
      "len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), t -> length(t) > 0)))::BIGINT"),
    ("stops", hitCount(tokens(col("text")), stopwords.head._2).cast("long"), {
      val lst = stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(string_split_regex(lower(text), '\\s+'), t -> list_contains($lst, t)))::BIGINT"
    }))

  def stumpForest(documents: DataFrame): DataFrame = {
    val feats = ForestFeatures
    // materialize the featurized frame ONCE (r12 wave 17, the q_hits
    // edges / nbClassify precedent): labeled feeds 4 stump-fit
    // subtrees plus the holdout — without the cut, each fit re-runs
    // the tokenize + NB-quality scan (column pruning saves the other
    // features but not y's NB pass), 5 featurize passes for 1 result.
    // The checkpointed rows are narrow (id, label, 4 longs).
    val labeled = documents.select(
      Seq(col("doc_id"), (qualityScoreCol > NbCut).cast("long").as("y")) ++
        feats.map { case (nm, c, _) => c.as(s"x_$nm") }: _*)
      .localCheckpoint()
    val train = labeled.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val models = feats.map { case (nm, _, _) =>
      nm -> stumpModel(train.select(col(s"x_$nm").as("x"), col("y")))
        .select(col("threshold").as(s"th_$nm"),
          col("pred_left").as(s"pl_$nm"), col("pred_right").as(s"pr_$nm"))
    }
    val hold = models.foldLeft(
      labeled.where(pmod(col("doc_id"), lit(5)) === 0)) {
      case (df, (_, m)) => df.crossJoin(broadcast(m))
    }
    val preds = feats.foldLeft(hold) { case (df, (nm, _, _)) =>
      df.withColumn(s"p_$nm",
        when(col(s"x_$nm") <= col(s"th_$nm"), col(s"pl_$nm"))
          .otherwise(col(s"pr_$nm")))
    }.withColumn("p_ens",
      (feats.map(f => col(s"p_${f._1}")).reduce(_ + _) * 2 >
        feats.length).cast("long"))
    val summary = preds.groupBy(feats.map(f => col(s"th_${f._1}")): _*)
      .agg(
        expr(s"(sum(cast(p_${feats.head._1} = y as long)) * 1000000L) div count(1)")
          .as(s"acc_${feats.head._1}"),
        feats.tail.map { case (nm, _, _) =>
          expr(s"(sum(cast(p_$nm = y as long)) * 1000000L) div count(1)")
            .as(s"acc_$nm")
        } :+ expr("(sum(cast(p_ens = y as long)) * 1000000L) div count(1)")
          .as("acc_ens"): _*)
    val rows = feats.map { case (nm, _, _) =>
      summary.select(lit(nm).as("model"), col(s"th_$nm").as("threshold"),
        col(s"acc_$nm").as("acc_ppm"))
    } :+ summary.select(lit("ensemble").as("model"),
      lit(null).cast("long").as("threshold"), col("acc_ens").as("acc_ppm"))
    rows.reduce(_ unionAll _)
  }

  lazy val stumpForestSql: String = {
    val feats = ForestFeatures
    val featCols = feats.map { case (nm, _, sql) => s"$sql AS x_$nm" }
      .mkString(",\n    ")
    val chains = feats.map { case (nm, _, _) =>
      s"""byx_$nm AS (
  SELECT x_$nm AS x, count(*)::BIGINT AS c, sum(y)::BIGINT AS p
  FROM labeled WHERE doc_id % 5 <> 0 GROUP BY 1),
tot_$nm AS (SELECT sum(c)::BIGINT AS nn, sum(p)::BIGINT AS pp FROM byx_$nm),
cand_$nm AS (
  SELECT x,
    sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)::BIGINT AS n_l,
    sum(p) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)::BIGINT AS p_l,
    nn, pp
  FROM byx_$nm CROSS JOIN tot_$nm QUALIFY n_l < nn),
best_$nm AS (
  SELECT x AS th_$nm, (p_l * 2 > n_l)::BIGINT AS pl_$nm,
    ((pp - p_l) * 2 > (nn - n_l))::BIGINT AS pr_$nm
  FROM cand_$nm
  ORDER BY ((p_l::HUGEINT * (n_l - p_l) * 1000000) // n_l::HUGEINT
    + ((pp - p_l)::HUGEINT * ((nn - n_l) - (pp - p_l)) * 1000000)
      // (nn - n_l)::HUGEINT) ASC, x ASC
  LIMIT 1)"""
    }.mkString(",\n")
    val crossBests = feats.map(f => s"CROSS JOIN best_${f._1}").mkString(" ")
    val predCols = feats.map { case (nm, _, _) =>
      s"CASE WHEN x_$nm <= th_$nm THEN pl_$nm ELSE pr_$nm END AS p_$nm"
    }.mkString(",\n    ")
    val thCols = feats.map(f => s"th_${f._1}").mkString(", ")
    val voteSum = feats.map(f => s"p_${f._1}").mkString(" + ")
    val accCols = feats.map { case (nm, _, _) =>
      s"((sum((p_$nm = y)::BIGINT) * 1000000) // count(*))::BIGINT AS acc_$nm"
    }.mkString(",\n    ")
    val unions = feats.map { case (nm, _, _) =>
      s"SELECT '$nm' AS model, th_$nm AS threshold, acc_$nm AS acc_ppm FROM summary"
    }.mkString("\nUNION ALL\n")
    s"""WITH labeled AS (
  SELECT doc_id, ($qualityScoreSqlExpr > $NbCut)::BIGINT AS y,
    $featCols
  FROM documents),
$chains,
preds AS (
  SELECT y, $thCols,
    $predCols
  FROM labeled $crossBests WHERE doc_id % 5 = 0),
voted AS (
  SELECT *, (($voteSum) * 2 > ${feats.length})::BIGINT AS p_ens FROM preds),
summary AS (
  SELECT $thCols,
    $accCols,
    ((sum((p_ens = y)::BIGINT) * 1000000) // count(*))::BIGINT AS acc_ens
  FROM voted GROUP BY $thCols)
$unions
UNION ALL
SELECT 'ensemble' AS model, NULL::BIGINT AS threshold, acc_ens AS acc_ppm
FROM summary"""
  }

  // ---- L159 (r10): WoE / Information Value — scorecard binning ----
  // The credit-scoring feature readout beside L156's stump: split
  // n_chars into 10 equal-population bins (global ntile under a
  // (x, doc_id) total order — the C48 contract; C25's approximate
  // quantiles are the declared 100× path) and report each bin's
  // Weight of Evidence ln((g·B)/(b·G)) against the L9 quality label,
  // plus the feature's total Information Value Σ (g/G − b/B)·WoE —
  // THE standard "is this feature worth binning into the model"
  // number. Exactness: counts exact; WoE is one ln of a ratio of
  // exact integer products (NULL for pure bins, the standard
  // zero-cell convention — never ±inf); IV terms are fixed-order
  // float chains quantized DECIMAL(18,9) before the order-free sum
  // (the L13/C152 entropy discipline). Plan (r11): the global ntile
  // is GONE — binning rides the C48 two-phase range rank plus the
  // closed-form ntile identity (n rows, k buckets: the first n%k
  // buckets hold n/k+1 rows — exactly Spark's and DuckDB's NTILE
  // contract), so no single-reducer window touches the corpus; then
  // one 10-row bin aggregate and single-row broadcasts.
  def woeIv(documents: DataFrame): DataFrame = {
    val d9 = "decimal(18,9)"
    val labeled = documents.select(col("doc_id"),
      col("n_chars").cast("long").as("x"),
      (qualityScoreCol > NbCut).cast("long").as("y"))
    val nAll = labeled.agg(count(lit(1)).as("n_all"))
    val binned = Relational.totalOrderRank(labeled,
        Seq(col("x").asc, col("doc_id").asc), col("x"))
      .crossJoin(broadcast(nAll))
      .withColumn("bin",
        Relational.ntileExpr("rn", "n_all", 10).cast("long"))
    val bins = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("g"))
      .withColumn("b", col("n") - col("g"))
    val tot = bins.agg(sum(col("g")).as("gg"), sum(col("b")).as("bb"))
    val scored = bins.crossJoin(broadcast(tot))
      .withColumn("woe", when(col("g") === 0 || col("b") === 0,
        lit(null).cast("double"))
        .otherwise(round(log((col("g") * col("bb")).cast("double") /
          (col("b") * col("gg")).cast("double")), 6)))
      .withColumn("iv_term",
        ((col("g") * col("bb") - col("b") * col("gg")).cast("double") /
          (col("gg") * col("bb")).cast("double") * col("woe")).cast(d9))
    val iv = scored.agg(round(sum(col("iv_term")).cast("double"), 6).as("iv"))
    scored.select(col("bin"), col("n"), col("g"), col("b"), col("woe"))
      .crossJoin(broadcast(iv))
  }

  lazy val woeIvSql: String =
    s"""WITH labeled AS (
  SELECT doc_id, n_chars::BIGINT AS x,
    ($qualityScoreSqlExpr > $NbCut)::BIGINT AS y
  FROM documents),
binned AS (
  SELECT y, ntile(10) OVER (ORDER BY x, doc_id)::BIGINT AS bin FROM labeled),
bins AS (
  SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS g,
    (count(*) - sum(y))::BIGINT AS b
  FROM binned GROUP BY 1),
tot AS (SELECT sum(g)::BIGINT AS gg, sum(b)::BIGINT AS bb FROM bins),
scored AS (
  SELECT bin, n, g, b,
    CASE WHEN g = 0 OR b = 0 THEN NULL
      ELSE round(ln((g * bb)::DOUBLE / (b * gg)::DOUBLE), 6) END AS woe,
    CAST((g * bb - b * gg)::DOUBLE / (gg * bb)::DOUBLE
      * (CASE WHEN g = 0 OR b = 0 THEN NULL
          ELSE round(ln((g * bb)::DOUBLE / (b * gg)::DOUBLE), 6) END)
      AS DECIMAL(18,9)) AS iv_term
  FROM bins CROSS JOIN tot),
iv AS (SELECT round(sum(iv_term)::DOUBLE, 6) AS iv FROM scored)
SELECT bin, n, g, b, woe, iv FROM scored CROSS JOIN iv"""

  lazy val decisionStumpSql: String =
    s"""WITH labeled AS (
  SELECT doc_id, n_chars::BIGINT AS x, ($qualityScoreSqlExpr > $NbCut)::BIGINT AS y
  FROM documents),
byx AS (
  SELECT x, count(*)::BIGINT AS c, sum(y)::BIGINT AS p
  FROM labeled WHERE doc_id % 5 <> 0 GROUP BY x),
tot AS (SELECT sum(c)::BIGINT AS nn, sum(p)::BIGINT AS pp FROM byx),
cand AS (
  SELECT x,
    sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)::BIGINT AS n_l,
    sum(p) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)::BIGINT AS p_l,
    nn, pp
  FROM byx CROSS JOIN tot QUALIFY n_l < nn),
scored AS (
  SELECT x, n_l, p_l, (nn - n_l)::BIGINT AS n_r, (pp - p_l)::BIGINT AS p_r,
    ((p_l::HUGEINT * (n_l - p_l) * 1000000) // n_l::HUGEINT
      + ((pp - p_l)::HUGEINT * ((nn - n_l) - (pp - p_l)) * 1000000)
        // (nn - n_l)::HUGEINT)::BIGINT AS g
  FROM cand),
best AS (
  SELECT x AS threshold, n_l, p_l, n_r, p_r, g AS gini_q6,
    (p_l * 2 > n_l)::BIGINT AS pred_left,
    (p_r * 2 > n_r)::BIGINT AS pred_right
  FROM scored ORDER BY g ASC, x ASC LIMIT 1),
hold AS (
  SELECT l.y,
    CASE WHEN l.x <= b.threshold THEN b.pred_left ELSE b.pred_right END AS pred,
    b.*
  FROM labeled l CROSS JOIN best b WHERE l.doc_id % 5 = 0)
SELECT threshold, n_l, p_l, n_r, p_r, gini_q6, pred_left, pred_right,
  sum((pred = 1 AND y = 1)::BIGINT)::BIGINT AS tp,
  sum((pred = 1 AND y = 0)::BIGINT)::BIGINT AS fp,
  sum((pred = 0 AND y = 0)::BIGINT)::BIGINT AS tn,
  sum((pred = 0 AND y = 1)::BIGINT)::BIGINT AS fn,
  ((sum((pred = y)::BIGINT) * 1000000) // count(*))::BIGINT AS acc_ppm
FROM hold
GROUP BY threshold, n_l, p_l, n_r, p_r, gini_q6, pred_left, pred_right"""
}
